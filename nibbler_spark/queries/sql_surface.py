"""SQL-surface operators beyond the CTE/EXISTS/scalar forms in
``relational.ext_sql_cte_subquery``: IN / NOT IN subqueries, LATERAL
correlated subqueries, correlated scalars in the SELECT list, and the
CDC merge-upsert dataflow. Each is a distinct Catalyst rewrite
(RewritePredicateSubquery → semi/anti join, DecorrelateInnerQuery,
lateral join planning) — declared so the plan shapes are pinned, not
assumed."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nibbler_spark.operators.merge import merge_upsert
from nibbler_spark.queries import pin, register, scratch_dir
from nibbler_spark.sources import load_table, register_temp_views


@register(
    "sql01_in_notin_subquery",
    survey_id="EXT-SQL",
    category="sql-surface",
    oracle="""
SELECT p_partkey, p_brand
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
  AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount >= 0.1)
ORDER BY p_partkey
""",
)
def sql01_in_notin_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN → left-semi, NOT IN → (null-aware) left-anti: both predicate
    subqueries rewritten to joins by Catalyst, no per-row re-execution.
    The subquery columns are non-null here so the anti join stays the
    fast non-null-aware form at scale."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_brand
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
          AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount >= 0.1)
        ORDER BY p_partkey
        """
    )


@register(
    "sql02_lateral_topk",
    survey_id="EXT-SQL",
    category="sql-surface",
    oracle="""
SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 3
) t
ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
""",
)
def sql02_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with per-row LIMIT — the SQL spelling
    of top-k-per-group (F4); Spark decorrelates it into a ranked join
    rather than re-running the inner query per outer row."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_custkey, c_name, c_acctbal
          FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 3
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
        """
    )


@register(
    "sql03_correlated_scalar_select",
    survey_id="EXT-SQL",
    category="sql-surface",
    oracle="""
SELECT c_custkey, c_name,
       (SELECT MAX(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey)
         AS max_order_price,
       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
         AS n_orders
FROM customer c
ORDER BY c_custkey
""",
)
def sql03_correlated_scalar_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries in the SELECT list — decorrelated to
    a single aggregate-then-left-outer-join (one pass over orders, not
    one query per customer)."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT MAX(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey)
                 AS max_order_price,
               (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey)
                 AS n_orders
        FROM customer c
        ORDER BY c_custkey
        """
    )


@register(
    "ext_merge_upsert",
    survey_id="EXT-MERGE",
    category="sql-surface",
    oracle="""
WITH changes AS (
  SELECT o_orderkey AS k, 'U' AS op, o_custkey,
         o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'D', CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
  FROM orders WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey + 10000000, 'I', o_custkey, CAST(100.0 AS DOUBLE)
  FROM orders WHERE o_orderkey % 10 = 2
),
merged AS (
  SELECT COALESCE(c.k, b.o_orderkey) AS o_orderkey,
         CASE WHEN c.op IS NOT NULL THEN c.o_custkey ELSE b.o_custkey END AS o_custkey,
         CASE WHEN c.op IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
         c.op
  FROM orders b FULL JOIN changes c ON b.o_orderkey = c.k
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM merged WHERE op IS NULL OR op <> 'D'
ORDER BY o_orderkey
""",
)
def ext_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge: a deterministic change set (10% updates, 10% deletes,
    10% inserts derived from orders itself) applied via the single-
    shuffle full-outer-join merge operator."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    updates = o.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_custkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    deletes = o.where(F.col("o_orderkey") % 10 == 1).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    inserts = o.where(F.col("o_orderkey") % 10 == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_custkey",
        F.lit(100.0).alias("o_totalprice"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = merge_upsert(
        o, changes, key="o_orderkey", value_cols=["o_custkey", "o_totalprice"]
    )
    return merged.orderBy("o_orderkey")


@register(
    "ext_time_travel_snapshots",
    survey_id="EXT-TIMETRAVEL",
    category="sql-surface",
    oracle="""
WITH o AS (
  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents, o_orderstatus
  FROM orders
),
s0 AS (SELECT 0 AS snapshot_id, COUNT(*) AS n_rows,
              CAST(SUM(cents) AS BIGINT) AS total_cents
       FROM o WHERE o_orderstatus = 'O'),
s1 AS (SELECT 1, COUNT(*),
              CAST(SUM(cents) AS BIGINT)
       FROM o WHERE o_orderstatus IN ('O', 'F')),
s2 AS (SELECT 2, COUNT(*),
              CAST(SUM(CASE WHEN o_orderstatus = 'O'
                            THEN CAST(FLOOR(o_totalprice * 2 * 100) AS BIGINT)
                            ELSE cents END) AS BIGINT)
       FROM (SELECT o_totalprice, o_orderstatus,
                    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
             FROM orders)
       WHERE o_orderstatus IN ('O', 'F'))
SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
ORDER BY snapshot_id
""",
)
def ext_time_travel_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based time travel over plain parquet (the miniature
    lakehouse format in ``operators/snapshots.py``): snapshot 0 writes
    the open orders; snapshot 1 APPENDS the finished orders by
    carrying snapshot 0's files over in the new manifest (no rewrite);
    snapshot 2 is a COPY-ON-WRITE UPDATE — the open-order files are
    replaced by doubled-price versions while the finished-order files
    carry over untouched. The query then time-travel-reads ALL THREE
    snapshots and returns each one's (row count, cents total): proving
    snapshots 0 and 1 remain exactly readable AFTER the rewrite is the
    whole point of immutable-file + manifest commits. Every write
    commits via write-temp-then-rename, so a crash can never expose a
    partial snapshot. At 100 TB: manifests are O(files) driver-side
    metadata; data moves only through ordinary parallel parquet scans
    and writes of the CHANGED files."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("ttt")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    open_orders = o.where(F.col("o_orderstatus") == "O")
    finished = o.where(F.col("o_orderstatus") == "F")

    s0 = write_snapshot(open_orders.repartition(2), table)
    f0 = snapshot_files(table, s0)
    s1 = write_snapshot(finished.repartition(2), table, carry_over=f0)
    f1 = snapshot_files(table, s1)
    # COW update: rewrite ONLY the open-order files (doubled price),
    # carry the finished-order files untouched.
    carried = [f for f in f1 if f not in f0]
    s2 = write_snapshot(
        open_orders.withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ).repartition(2),
        table,
        carry_over=carried,
    )

    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")
    parts = []
    for sid in (s0, s1, s2):
        parts.append(
            read_snapshot(spark, table, sid).agg(
                F.count("*").alias("n_rows"), cents.alias("total_cents")
            ).select(
                F.lit(sid).alias("snapshot_id"), "n_rows", "total_cents"
            )
        )
    return parts[0].unionAll(parts[1]).unionAll(parts[2]).orderBy(
        "snapshot_id"
    )


@register(
    "ext_snapshot_incremental_read",
    survey_id="EXT-CDC-READ",
    category="sql-surface",
    oracle="""
SELECT 'append' AS change_kind, COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT 'rewrite', COUNT(*),
       CAST(SUM(CAST(FLOOR(o_totalprice * 2 * 100) AS BIGINT)) AS BIGINT)
FROM orders WHERE o_orderstatus = 'O'
ORDER BY change_kind
""",
)
def ext_snapshot_incremental_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC-style incremental consumption of the snapshot log: a
    downstream pipeline reads only the files ADDED between two
    snapshots instead of re-scanning the table. Replays the
    EXT-TIMETRAVEL history (append of finished orders, then a
    copy-on-write doubling of open orders) and checks both change
    feeds: s0→s1 yields exactly the appended rows, s1→s2 exactly the
    post-image of the rewritten files. File-granularity change feeds
    are how incremental ETL scales — work is proportional to the
    delta, never the table."""
    from nibbler_spark.operators.snapshots import (
        read_changes,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("cdc")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    open_orders = o.where(F.col("o_orderstatus") == "O")
    finished = o.where(F.col("o_orderstatus") == "F")
    s0 = write_snapshot(open_orders.repartition(2), table)
    f0 = snapshot_files(table, s0)
    s1 = write_snapshot(finished.repartition(2), table, carry_over=f0)
    carried = [f for f in snapshot_files(table, s1) if f not in f0]
    s2 = write_snapshot(
        open_orders.withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ).repartition(2),
        table,
        carry_over=carried,
    )
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")
    append_feed = read_changes(spark, table, s0, s1).agg(
        F.count("*").alias("n_rows"), cents.alias("total_cents")
    ).select(F.lit("append").alias("change_kind"), "n_rows", "total_cents")
    rewrite_feed = read_changes(spark, table, s1, s2).agg(
        F.count("*").alias("n_rows"), cents.alias("total_cents")
    ).select(F.lit("rewrite").alias("change_kind"), "n_rows", "total_cents")
    return append_feed.unionAll(rewrite_feed).orderBy("change_kind")


@register(
    "ext_snapshot_skipping",
    survey_id="EXT-SKIPPING",
    category="sql-surface",
    mode="bounded",
    oracle="""
WITH b AS (SELECT MIN(o_orderkey) AS kmin, MAX(o_orderkey) AS kmax
           FROM orders),
f AS (SELECT o.o_totalprice
      FROM orders o, b
      WHERE o.o_orderkey >= b.kmin + (b.kmax - b.kmin) // 4
        AND o.o_orderkey <= b.kmin + (b.kmax - b.kmin) // 2)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS pruned
FROM f
""",
)
def ext_snapshot_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping against manifest column stats: commit orders into
    the snapshot format range-partitioned on ``o_orderkey`` (8 files,
    disjoint key ranges), then time-travel-read the middle quarter of
    the key space with filters. The manifest's per-file MIN/MAX stats
    (harvested from the parquet footers at commit time) prune the file
    list DRIVER-SIDE before the scan starts; the query returns the
    filtered aggregate plus a ``pruned`` boolean asserting that
    files_scanned < files_total — i.e. that skipping physically
    happened, not just that the answer is right. At 100 TB this is the
    manifest-level analogue of partition pruning: a predicate touching
    2% of the key space reads 2% of the files, and the pruning cost is
    O(files) driver metadata, zero executor work."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot_pruned,
        write_snapshot,
    )

    table = scratch_dir("skip")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    sid = write_snapshot(o.repartitionByRange(8, "o_orderkey"), table)
    b = o.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).first()
    lo = b["kmin"] + (b["kmax"] - b["kmin"]) // 4
    hi = b["kmin"] + (b["kmax"] - b["kmin"]) // 2
    got, scanned, total = read_snapshot_pruned(
        spark,
        table,
        sid,
        filters=[("o_orderkey", ">=", lo), ("o_orderkey", "<=", hi)],
    )
    return got.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    ).select(
        "n_rows",
        "total_cents",
        F.lit(bool(0 < scanned < total)).alias("pruned"),
    )


@register(
    "ext_snapshot_merge_into",
    survey_id="EXT-MERGE-SNAP",
    category="sql-surface",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 8 = 0
              THEN o_totalprice * CAST(1.1 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 8 <> 1
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, CAST(100.0 AS DOUBLE)
  FROM orders WHERE o_orderkey % 8 = 2
)
ORDER BY o_orderkey
""",
)
def ext_snapshot_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE INTO the snapshot format (copy-on-write): orders
    is committed as FOUR bucket files (o_orderkey % 4, one file each —
    deterministic so the oracle can reason about file contents); the
    change set updates keys ≡0 (mod 8), deletes keys ≡1 (mod 8), and
    inserts fresh keys +10M. Buckets 0 and 1 contain matched keys and
    are rewritten; buckets 2 and 3 carry over BY REFERENCE — the merge
    writes only the changed fraction of the table. The query returns
    the full post-merge table, hash-checked against a DuckDB
    formulation of the same MERGE. Scale shape: stats-prune candidate
    files by key envelope → one key-column semi-join to find touched
    files → rewrite only those (single keyed left join) → commit."""
    from nibbler_spark.operators.snapshots import (
        merge_into_snapshot,
        read_snapshot,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("msnap")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    carry: list[str] = []
    for b in range(4):
        sid = write_snapshot(
            o.where(F.col("o_orderkey") % 4 == b).coalesce(1),
            table,
            carry_over=carry,
        )
        carry = snapshot_files(table, sid)

    updates = o.where(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_custkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    deletes = o.where(F.col("o_orderkey") % 8 == 1).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    inserts = o.where(F.col("o_orderkey") % 8 == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_custkey",
        F.lit(100.0).alias("o_totalprice"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    sid = merge_into_snapshot(
        spark,
        table,
        changes,
        key="o_orderkey",
        value_cols=["o_custkey", "o_totalprice"],
    )
    return read_snapshot(spark, table, sid).orderBy("o_orderkey")


@register(
    "ext_snapshot_merge_cdc",
    survey_id="EXT-MERGE-CDC",
    category="sql-surface",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 8 = 0
              THEN o_totalprice * CAST(1.1 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey % 8 <> 1
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, CAST(100.0 AS DOUBLE)
  FROM orders WHERE o_orderkey % 8 = 2
)
ORDER BY o_orderkey
""",
)
def ext_snapshot_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC feed of a MERGE commit: replays EXT-MERGE-SNAP (four
    deterministic bucket files, update ≡0 / delete ≡1 mod 8, inserts
    +10M) and then reads ONLY the files the merge ADDED via the
    incremental change feed. Because the merge rewrites exactly the
    bucket-0 and bucket-1 files, the feed is provably the post-image
    of those two buckets plus the inserted rows — which is what the
    DuckDB oracle computes from first principles. This is the
    contract a downstream incremental pipeline depends on: consuming
    the delta of a merge is work proportional to the rewritten
    fraction, never the table."""
    from nibbler_spark.operators.snapshots import (
        merge_into_snapshot,
        read_changes,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("mcdc")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    carry: list[str] = []
    for b in range(4):
        sid = write_snapshot(
            o.where(F.col("o_orderkey") % 4 == b).coalesce(1),
            table,
            carry_over=carry,
        )
        carry = snapshot_files(table, sid)
    base_sid = sid

    updates = o.where(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_custkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    deletes = o.where(F.col("o_orderkey") % 8 == 1).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    inserts = o.where(F.col("o_orderkey") % 8 == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_custkey",
        F.lit(100.0).alias("o_totalprice"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged_sid = merge_into_snapshot(
        spark,
        table,
        changes,
        key="o_orderkey",
        value_cols=["o_custkey", "o_totalprice"],
    )
    return read_changes(spark, table, base_sid, merged_sid).orderBy(
        "o_orderkey"
    )


@register(
    "ext_snapshot_compaction",
    survey_id="EXT-COMPACT",
    category="sql-surface",
    mode="bounded",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS compacted, TRUE AS history_readable
FROM orders
""",
)
def ext_snapshot_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style small-file compaction on the snapshot format:
    orders lands as 12 small files (the classic streaming-ingest
    pathology — at 100 TB, millions of tiny files turn every scan into
    a metadata storm), then ``compact_snapshot`` rewrites the latest
    snapshot into 2 files as a NEW commit. The query proves the three
    contract points: contents bit-identical (hash on rows+cents),
    layout actually shrank (files_after < files_before), and the
    pre-compaction snapshot remains time-travel readable (compaction
    is a logical no-op, not a destructive rewrite)."""
    from nibbler_spark.operators.snapshots import (
        compact_snapshot,
        read_snapshot,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("compact")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    s0 = write_snapshot(o.repartition(12), table)
    n_before = len(snapshot_files(table, s0))
    s1 = compact_snapshot(spark, table, target_files=2)
    n_after = len(snapshot_files(table, s1))
    history_ok = read_snapshot(spark, table, s0).count() == o.count()
    return read_snapshot(spark, table, s1).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    ).select(
        "n_rows",
        "total_cents",
        F.lit(bool(n_after < n_before)).alias("compacted"),
        F.lit(bool(history_ok)).alias("history_readable"),
    )


@register(
    "ext_snapshot_vacuum",
    survey_id="EXT-VACUUM",
    category="sql-surface",
    mode="bounded",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(FLOOR(o_totalprice * 2 * 100) AS BIGINT)
                     ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                END) AS BIGINT) AS total_cents,
       TRUE AS reclaimed_some, TRUE AS expired_unreadable
FROM orders WHERE o_orderstatus IN ('O', 'F')
""",
)
def ext_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with a retention boundary: replays the EXT-TIMETRAVEL
    history (append, then copy-on-write doubling of the open orders)
    and reclaims everything before the final snapshot. The rewritten-
    away open-order files are physically deleted and their manifests
    dropped; the retained snapshot's aggregate still hash-matches the
    oracle (reclaim must never touch referenced files — files shared
    with retained snapshots survive), and resolving an expired
    snapshot now fails, which is the documented lakehouse retention
    contract: time travel works within the window, never past it."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot,
        snapshot_files,
        vacuum_snapshots,
        write_snapshot,
    )

    table = scratch_dir("vacuum")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    open_orders = o.where(F.col("o_orderstatus") == "O")
    finished = o.where(F.col("o_orderstatus") == "F")
    s0 = write_snapshot(open_orders.repartition(2), table)
    f0 = snapshot_files(table, s0)
    s1 = write_snapshot(finished.repartition(2), table, carry_over=f0)
    carried = [f for f in snapshot_files(table, s1) if f not in f0]
    s2 = write_snapshot(
        open_orders.withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ).repartition(2),
        table,
        carry_over=carried,
    )
    deleted = vacuum_snapshots(table, keep_from=s2)
    reclaimed = len(deleted) > 0 and all(
        not os.path.exists(os.path.join(table, p)) for p in deleted
    )
    try:
        snapshot_files(table, s0)
        expired_unreadable = False
    except FileNotFoundError:
        expired_unreadable = True
    return read_snapshot(spark, table, s2).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    ).select(
        "n_rows",
        "total_cents",
        F.lit(bool(reclaimed)).alias("reclaimed_some"),
        F.lit(bool(expired_unreadable)).alias("expired_unreadable"),
    )


@register(
    "sql04_sql_udf",
    survey_id="EXT-SQL-UDF",
    category="sql-surface",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def sql04_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDF (Spark 4 `CREATE FUNCTION ... RETURNS ...
    RETURN <expr>`): the discounted-price formula is declared ONCE as a
    catalog function and reused in the aggregate. Unlike Python UDFs,
    a SQL UDF is inlined by the analyzer into the calling plan — the
    aggregate below runs entirely inside whole-stage codegen with zero
    serialization boundary, which is why it is the right tool for
    shared business formulas at 100 TB. The oracle inlines the same
    expression by hand; cents-floor keeps the large-group double sum
    engine-exact."""
    register_temp_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION nbl_disc_price(
          p DOUBLE, d DOUBLE
        ) RETURNS DOUBLE RETURN p * (1 - d)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(FLOOR(
                 nbl_disc_price(l_extendedprice, l_discount) * 100
               ) AS BIGINT)) AS BIGINT) AS revenue_cents,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@register(
    "sql05_session_variables",
    survey_id="EXT-SQL-VAR",
    category="sql-surface",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) / 2
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def sql05_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables (Spark 4 `DECLARE VARIABLE` / `SET VAR`):
    a threshold is computed INTO a variable from a scalar subquery and
    then parameterizes the main query — the SQL-native way to stage
    driver-side scalars between statements without string
    interpolation (and the variable is constant-folded into the plan,
    so the filter still pushes down to the scan). MAX/2 keeps the
    threshold engine-exact where an AVG over doubles would not be."""
    register_temp_views(spark, sf_dir)
    spark.sql(
        "DECLARE OR REPLACE VARIABLE nbl_price_floor DOUBLE DEFAULT 0.0"
    )
    spark.sql(
        "SET VAR nbl_price_floor = "
        "(SELECT MAX(o_totalprice) FROM orders) / 2"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders
        WHERE o_totalprice > nbl_price_floor
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )


@register(
    "sql06_pipe_syntax",
    survey_id="EXT-SQL-PIPE",
    category="sql-surface",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def sql06_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the same logical plan
    as the classic formulation, written as a linear FROM → WHERE →
    EXTEND → AGGREGATE → ORDER BY pipeline. Pipe stages are pure
    syntax — Catalyst sees identical operators, so pushdown/codegen
    are unchanged — but the staged form is how analysts compose long
    transformations; declaring it pins that the engine's SQL surface
    accepts it. Hash-checked against the classic spelling."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= DATE '1996-01-01'
               AND l_shipdate < DATE '1997-01-01'
        |> EXTEND CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT) AS disc_cents
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(disc_cents) AS BIGINT) AS revenue_cents
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_items, revenue_cents
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "ext_snapshot_schema_evolution",
    survey_id="EXT-SNAP-EVOLVE",
    category="sql-surface",
    oracle="""
SELECT o_orderkey, total_cents, priority FROM (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT)
           AS total_cents,
         CAST(NULL AS STRING) AS priority
  FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT),
         o_orderpriority
  FROM orders WHERE o_orderstatus = 'F'
) ORDER BY o_orderkey
""",
)
def ext_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema evolution WITHIN the snapshot table format: commit 0
    writes (o_orderkey, total_cents); commit 1 appends files that ADD
    a `priority` column while carrying commit-0's files by reference.
    Reading the latest snapshot with merge_schema unions the file
    schemas — old-generation rows surface NULL priority, new rows
    carry theirs — without rewriting a single old file. This is the
    a14 mergeSchema contract lifted onto versioned commits: at 100 TB
    a column add is a metadata-only operation, and time-traveling to
    commit 0 still yields the pre-evolution schema."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("evolve")
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    v1 = o.where(F.col("o_orderstatus") == "O").select(
        "o_orderkey", cents.alias("total_cents")
    )
    v2 = o.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        cents.alias("total_cents"),
        F.col("o_orderpriority").alias("priority"),
    )
    s0 = write_snapshot(v1.repartition(2), table)
    write_snapshot(
        v2.repartition(2), table, carry_over=snapshot_files(table, s0)
    )
    merged = read_snapshot(spark, table, merge_schema=True)
    # time travel to the pre-evolution commit keeps the old schema
    assert read_snapshot(spark, table, s0).columns == [
        "o_orderkey",
        "total_cents",
    ]
    return merged.select("o_orderkey", "total_cents", "priority").orderBy(
        "o_orderkey"
    )


_RECURSIVE_CHAIN_SQL = """
WITH RECURSIVE seq AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS rn
  FROM orders WHERE o_custkey % 97 = 0
),
walk(o_custkey, rn, running_cents) AS (
  SELECT o_custkey, rn, cents FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.o_custkey, s.rn, w.running_cents + s.cents
  FROM walk w JOIN seq s
    ON s.o_custkey = w.o_custkey AND s.rn = w.rn + 1
  WHERE w.rn < 80
)
SELECT o_custkey, rn, running_cents FROM walk
ORDER BY o_custkey, rn
"""


@register(
    "sql07_recursive_cte",
    survey_id="EXT-SQL-REC",
    category="sql-surface",
    oracle=_RECURSIVE_CHAIN_SQL,
)
def sql07_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 `WITH RECURSIVE`): per-customer order
    chains walked step by step — the anchor picks each customer's first
    order, every recursive step joins the next order in date sequence
    and extends a running total. The chain graph is acyclic by
    construction (rn strictly increases) and the `w.rn < 80` guard
    bounds the recursion depth independent of data skew, so the
    iterative union Spark executes under the hood terminates after at
    most 80 joined micro-plans. Cents arithmetic keeps the accumulation
    integer-exact; the oracle is the IDENTICAL SQL text on DuckDB —
    recursive-CTE semantics are pinned engine-to-engine, not
    approximated. Scale: each step is an equi-join on (custkey, rn)
    over only the still-growing frontier, the shape Spark's recursion
    executes as per-step shuffles over frontier-sized inputs.

    r11 perf (guide §7.2 duplicated subtrees / §3.3): Spark inlines the
    non-recursive ``seq`` CTE into EVERY UnionLoop step, so each of the
    ~40 iterations re-scanned orders and re-ran the row_number window
    (plan: ``LogicalRelation`` + ``Window`` under the loop body). The
    invariant side is now materialized ONCE (localCheckpoint) and the
    recursion joins the materialized view — same walk, same rows;
    5.5 s → measured-below noop median. The recursive CTE itself (the
    declared operator) is unchanged."""
    register_temp_views(spark, sf_dir)
    seq = pin(spark.sql(
        """
        SELECT o_custkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
               row_number() OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS rn
        FROM orders WHERE o_custkey % 97 = 0
        """
    ))
    seq.createOrReplaceTempView("sql07_seq_mat")
    return spark.sql(
        """
        WITH RECURSIVE walk(o_custkey, rn, running_cents) AS (
          SELECT o_custkey, rn, cents FROM sql07_seq_mat WHERE rn = 1
          UNION ALL
          SELECT s.o_custkey, s.rn, w.running_cents + s.cents
          FROM walk w JOIN sql07_seq_mat s
            ON s.o_custkey = w.o_custkey AND s.rn = w.rn + 1
          WHERE w.rn < 80
        )
        SELECT o_custkey, rn, running_cents FROM walk
        ORDER BY o_custkey, rn
        """
    )


@register(
    "sql08_sql_scripting",
    survey_id="EXT-SQL-SCRIPT",
    category="sql-surface",
    oracle="""
WITH t1 AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*) AS thr
  FROM orders WHERE o_totalprice > CAST(0.0 AS DOUBLE)
),
t2 AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*) AS thr
  FROM orders, t1 WHERE o_totalprice > t1.thr
),
t3 AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*) AS thr
  FROM orders, t2 WHERE o_totalprice > t2.thr
)
SELECT COUNT(*) AS n_above,
       CAST(FLOOR(MAX(t3.thr) * 100) AS BIGINT) AS thr_cents
FROM orders, t3 WHERE o_totalprice > t3.thr
""",
)
def sql08_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 compound statements): a BEGIN…END block
    with DECLAREd variables and a WHILE loop computes an iterated
    trimmed mean — each pass re-averages only the orders above the
    previous threshold, a control-flow shape plain SQL can only express
    by manually unrolling. The script runs 3 refinement passes and
    returns the survivors above the final threshold. Every per-pass
    average is the decimal-exact `davg` form, so the threshold doubles
    are bit-identical to the oracle's hand-unrolled CTE ladder. Scale:
    each loop iteration is one full declarative aggregate (scan +
    partial/final agg) — the loop stages O(iterations) Spark jobs, it
    never row-iterates on the driver."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        BEGIN
          DECLARE i INT = 0;
          DECLARE thr DOUBLE = 0.0;
          WHILE i < 3 DO
            SET thr = (
              SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                          AS DOUBLE) / COUNT(*)
              FROM orders WHERE o_totalprice > thr
            );
            SET i = i + 1;
          END WHILE;
          SELECT COUNT(*) AS n_above,
                 CAST(FLOOR(thr * 100) AS BIGINT) AS thr_cents
          FROM orders WHERE o_totalprice > thr;
        END
        """
    )


@register(
    "ext_snapshot_bloom_skipping",
    survey_id="EXT-BLOOM-SKIP",
    category="sql-surface",
    mode="bounded",
    oracle="""
SELECT o_custkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
       TRUE AS stats_blind, TRUE AS hit_pruned, TRUE AS miss_pruned
FROM orders
WHERE o_orderkey % 1000 <> 123
  AND o_orderkey = (SELECT MIN(o_orderkey) FROM orders WHERE o_orderkey % 1000 = 500)
""",
)
def ext_snapshot_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter data skipping in the snapshot manifests — the
    point-lookup complement to MIN/MAX stats: orders is committed
    HASH-distributed on ``o_orderkey`` (8 files), so every file's key
    range spans nearly the whole domain and range stats prune nothing
    (``stats_blind`` proves it by pruning with the blooms stripped).
    The per-file Bloom bitsets (md5-derived positions, built with a
    distributed bit_or aggregate at commit time) then prune a point
    lookup of an EXISTING key down to the one file that holds it
    (± false positives at the declared 2^18-bit/4-hash sizing), and a
    lookup of an ABSENT key down to ≤ 2 files. The returned row is the
    looked-up order itself, oracle-checked. This is Delta/Iceberg's
    bloom-skipping contract: high-cardinality key lookups touch O(1)
    files out of millions, with prune cost O(files) driver metadata."""
    from nibbler_spark.operators.snapshots import (
        prune_entries,
        read_snapshot_pruned,
        snapshot_entries,
        write_snapshot,
    )

    table = scratch_dir("bloom")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # drop one residue class so an INTERIOR key is provably absent —
    # the miss probe must be inside every file's [min,max] span, else
    # range stats would prune it and the bloom would get false credit
    o = o.where(F.col("o_orderkey") % 1000 != 123)
    sid = write_snapshot(
        o.repartition(8, F.col("o_orderkey")),
        table,
        bloom_cols=["o_orderkey"],
    )
    # an INTERIOR existing key: under the hash layout every file's
    # [min,max] span covers it, so range stats alone cannot prune
    kprobe = (
        o.where(F.col("o_orderkey") % 1000 == 500)
        .agg(F.min("o_orderkey"))
        .first()[0]
    )

    entries = snapshot_entries(table, sid)
    total = len(entries)
    stripped = [
        {kk: vv for kk, vv in e.items() if kk != "blooms"} for e in entries
    ]
    stats_blind = (
        len(prune_entries(stripped, [("o_orderkey", "=", kprobe)])) == total
    )
    hit_df, hit_scanned, _ = read_snapshot_pruned(
        spark, table, sid, filters=[("o_orderkey", "=", kprobe)]
    )
    _, miss_scanned, _ = read_snapshot_pruned(
        spark,
        table,
        sid,
        filters=[("o_orderkey", "=", kprobe - 500 + 123)],
    
    )
    return hit_df.select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.lit(bool(stats_blind)).alias("stats_blind"),
        F.lit(bool(0 < hit_scanned < total)).alias("hit_pruned"),
        F.lit(bool(miss_scanned <= 2)).alias("miss_pruned"),
    )


@register(
    "ext_snapshot_delete_vectors",
    survey_id="EXT-DV-DELETE",
    category="sql-surface",
    mode="bounded",
    oracle="""
SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
       TRUE AS no_rewrite, TRUE AS history_ok, TRUE AS dv_purged
FROM orders
WHERE o_orderkey % 7 <> 3 AND o_custkey % 11 <> 5
ORDER BY o_orderkey
""",
)
def ext_snapshot_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE as merge-on-read deletion vectors: two
    successive DELETEs (keys ≡3 mod 7, then customers ≡5 mod 11) each
    commit in O(matched rows) — ``no_rewrite`` proves BOTH delete
    commits reference the exact same data files as the base snapshot
    (zero write amplification, the whole point of DVs over
    copy-on-write). Reads anti-join the accumulated vectors on Spark's
    stable ``_metadata.row_index``; the surviving rows hash-match the
    double-predicate oracle. The base snapshot stays time-travel
    readable at full row count (``history_ok``), and OPTIMIZE-style
    compaction then materializes the surviving rows into DV-free files
    (``dv_purged``) whose contents still hash-match — the standard
    DV lifecycle: cheap deletes now, reconciled at maintenance time."""
    from nibbler_spark.operators.snapshots import (
        compact_snapshot,
        delete_from_snapshot,
        read_snapshot,
        snapshot_files,
        snapshot_meta,
        write_snapshot,
    )

    table = scratch_dir("dv")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    s0 = write_snapshot(o.repartition(4), table)
    base_files = set(snapshot_files(table, s0))
    n_all = o.count()

    s1 = delete_from_snapshot(spark, table, F.col("o_orderkey") % 7 == 3)
    s2 = delete_from_snapshot(spark, table, F.col("o_custkey") % 11 == 5)
    no_rewrite = (
        set(snapshot_files(table, s1)) == base_files
        and set(snapshot_files(table, s2)) == base_files
        and len(snapshot_meta(table, s2)["deletion_vectors"]) == 2
    )
    history_ok = read_snapshot(spark, table, s0).count() == n_all

    s3 = compact_snapshot(spark, table, target_files=2)
    dv_purged = not snapshot_meta(table, s3).get("deletion_vectors")
    return read_snapshot(spark, table, s3).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.lit(bool(no_rewrite)).alias("no_rewrite"),
        F.lit(bool(history_ok)).alias("history_ok"),
        F.lit(bool(dv_purged)).alias("dv_purged"),
    ).orderBy("o_orderkey")


@register(
    "ext_snapshot_check_constraints",
    survey_id="EXT-CHECK",
    category="sql-surface",
    mode="bounded",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS accepted_ok, TRUE AS rejected_raises, TRUE AS state_unchanged
FROM orders
""",
)
def ext_snapshot_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECK constraints enforced at COMMIT time (the Delta
    `ALTER TABLE ADD CONSTRAINT` contract): a commit whose staged files
    satisfy every declared predicate lands normally; a commit with any
    violating row is ABORTED — staged files removed, no manifest
    written, SnapshotConstraintError raised — so readers can never
    time-travel into invalid data and the table's last good snapshot
    stays latest. NULL predicate results pass, per SQL CHECK semantics.
    Validation is one distributed aggregate over the staged files (all
    constraints folded into a single pass), which at 100 TB is the
    cheapest possible gate: the write already paid the scan, the check
    adds a map-side fold."""
    from nibbler_spark.operators.snapshots import (
        SnapshotConstraintError,
        latest_snapshot,
        read_snapshot,
        write_snapshot,
    )

    table = scratch_dir("check")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    s0 = write_snapshot(
        o.repartition(2),
        table,
        constraints=[
            ("price_positive", "o_totalprice > 0"),
            ("status_domain", "o_orderstatus IN ('O', 'F', 'P')"),
        ],
    )
    accepted_ok = latest_snapshot(table) == s0

    rejected_raises = False
    try:
        write_snapshot(
            o.withColumn("o_totalprice", -F.col("o_totalprice")),
            table,
            constraints=[("price_positive", "o_totalprice > 0")],
        )
    except SnapshotConstraintError:
        rejected_raises = True
    # exactly one data dir (s0's): the rejected commit's staging is gone
    state_unchanged = latest_snapshot(table) == s0 and 1 == len(
        [d for d in os.listdir(table) if d.startswith("data-")]
    )
    return read_snapshot(spark, table, s0).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    ).select(
        "n_rows",
        "total_cents",
        F.lit(bool(accepted_ok)).alias("accepted_ok"),
        F.lit(bool(rejected_raises)).alias("rejected_raises"),
        F.lit(bool(state_unchanged)).alias("state_unchanged"),
    )


@register(
    "ext_snapshot_update_mor",
    survey_id="EXT-DV-UPDATE",
    category="sql-surface",
    mode="bounded",
    oracle="""
SELECT o_orderkey,
       CAST(FLOOR(CASE WHEN o_orderkey % 9 = 2
                       THEN o_totalprice * CAST(1.2 AS DOUBLE)
                       ELSE o_totalprice END * 100) AS BIGINT) AS cents,
       TRUE AS no_rewrite, TRUE AS dv_carried
FROM orders ORDER BY o_orderkey
""",
)
def ext_snapshot_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE: rows with keys ≡2 (mod 9) get a 20% price
    raise by masking their old versions with a deletion vector and
    appending ONLY the updated rows as new files — ``no_rewrite``
    proves every base data file is still referenced untouched by the
    final snapshot (IO proportional to the matched 11%, not the
    table), and ``dv_carried`` proves the append commit inherited the
    delete's vectors (an append that silently dropped DVs would
    resurrect the old row versions — the classic MoR footgun, guarded
    in write_snapshot). The final table hash-matches a CASE-expression
    oracle row-for-row."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot,
        snapshot_files,
        snapshot_meta,
        update_snapshot_mor,
        write_snapshot,
    )

    table = scratch_dir("morupd")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    s0 = write_snapshot(o.repartition(4), table)
    base_files = set(snapshot_files(table, s0))

    s1 = update_snapshot_mor(
        spark,
        table,
        F.col("o_orderkey") % 9 == 2,
        {"o_totalprice": F.col("o_totalprice") * 1.2},
    )
    final_files = set(snapshot_files(table, s1))
    no_rewrite = base_files <= final_files
    dv_carried = bool(snapshot_meta(table, s1).get("deletion_vectors"))
    return read_snapshot(spark, table, s1).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.lit(bool(no_rewrite)).alias("no_rewrite"),
        F.lit(bool(dv_carried)).alias("dv_carried"),
    ).orderBy("o_orderkey")


@register(
    "ext_incremental_mv_maintenance",
    survey_id="EXT-IVM",
    category="sql-surface",
    mode="bounded",
    oracle="""
WITH merged AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 8 = 0
              THEN o_totalprice * CAST(1.1 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 8 <> 1
  UNION ALL
  SELECT 'O', CAST(100.0 AS DOUBLE)
  FROM orders WHERE o_orderkey % 8 = 2
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS incremental
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def ext_incremental_mv_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance from the snapshot
    format's file-level diff: the per-status rollup MV is maintained
    across a MERGE commit WITHOUT rescanning the table — removed files
    (base − new manifest) retract their partial aggregates, added
    files (new − base) inject theirs, and the MV combines three tiny
    aggregate tables. Sound for self-inverse aggregates (SUM/COUNT —
    the retractable class streaming engines call them); MIN/MAX would
    need the full-group recompute path. The merge rewrites only the
    matched buckets, so maintenance IO is proportional to the delta
    (``incremental`` pins removed ⊂ base), and the maintained MV
    hash-matches the from-scratch oracle over the post-merge table —
    the equivalence that makes the shortcut trustworthy."""
    from nibbler_spark.operators.snapshots import (
        merge_into_snapshot,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("ivm")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    carry: list[str] = []
    for b in range(4):
        sid = write_snapshot(
            o.where(F.col("o_orderkey") % 4 == b).coalesce(1),
            table,
            carry_over=carry,
        )
        carry = snapshot_files(table, sid)
    base_sid = sid
    base_files = set(snapshot_files(table, base_sid))

    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")

    def rollup(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("cents"),
        )

    mv0 = pin(rollup(
        spark.read.parquet(*[os.path.join(table, p) for p in base_files])
    ))

    updates = o.where(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_orderstatus",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    deletes = o.where(F.col("o_orderkey") % 8 == 1).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    inserts = o.where(F.col("o_orderkey") % 8 == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(100.0).alias("o_totalprice"),
    )
    merged_sid = merge_into_snapshot(
        spark,
        table,
        updates.unionByName(deletes).unionByName(inserts),
        key="o_orderkey",
        value_cols=["o_orderstatus", "o_totalprice"],
    )
    new_files = set(snapshot_files(table, merged_sid))
    removed = sorted(base_files - new_files)
    added = sorted(new_files - base_files)
    incremental = bool(removed) and set(removed) < base_files

    d_minus = rollup(
        spark.read.parquet(*[os.path.join(table, p) for p in removed])
    )
    d_plus = rollup(
        spark.read.parquet(*[os.path.join(table, p) for p in added])
    )
    combined = (
        mv0.select("o_orderstatus", "n_orders", "cents")
        .unionByName(
            d_minus.select(
                "o_orderstatus",
                (-F.col("n_orders")).alias("n_orders"),
                (-F.col("cents")).alias("cents"),
            )
        )
        .unionByName(d_plus.select("o_orderstatus", "n_orders", "cents"))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .where(F.col("n_orders") > 0)
    )
    return combined.select(
        "o_orderstatus",
        "n_orders",
        "cents",
        F.lit(bool(incremental)).alias("incremental"),
    ).orderBy("o_orderstatus")


_GROUP_BY_ALL_SQL = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "sql09_group_by_all",
    survey_id="EXT-SQL-GBALL",
    category="sql-surface",
    oracle=_GROUP_BY_ALL_SQL,
)
def sql09_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the analyst-ergonomics syntax both
    engines resolve the same way (non-aggregate select items become the
    group keys; the sort covers the full output column list left to
    right). The IDENTICAL SQL text runs on both engines, pinning the
    resolution semantics rather than approximating them; revenue is the
    decimal-exact sum so the hash survives any partitioning. Scale: a
    plain partial/final aggregate on a 6-value composite key."""
    register_temp_views(spark, sf_dir)
    return spark.sql(_GROUP_BY_ALL_SQL)


_EXISTS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
AND NOT EXISTS (
  SELECT 1 FROM orders o2
  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderpriority = '1-URGENT'
)
ORDER BY c_custkey
"""


@register(
    "sql10_exists_subquery",
    survey_id="EXT-SQL-EXISTS",
    category="sql-surface",
    oracle=_EXISTS_SQL,
)
def sql10_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries (sql01 covers the
    IN/NOT IN flavor): customers with at least one 300k+ order and no
    urgent orders — IDENTICAL SQL text on both engines. Catalyst
    rewrites the pair into a left-semi plus a left-anti join on
    custkey (visible in the plan; same decorrelation DuckDB performs),
    so despite the correlated-subquery surface the physical shape is
    two keyed joins, no per-row re-execution — the property that makes
    the syntax safe at 100 TB."""
    register_temp_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


@register(
    "ext_snapshot_rollback",
    survey_id="EXT-SNAP-ROLLBACK",
    category="lakehouse",
    oracle="""
WITH o AS (
  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders
),
full_t AS (SELECT COUNT(*) AS n_rows,
                  CAST(SUM(cents) AS BIGINT) AS total_cents FROM o),
bad_t AS (SELECT COUNT(*) AS n_rows,
                 CAST(SUM(cents) AS BIGINT) AS total_cents
          FROM o WHERE o_orderkey % 2 = 0)
SELECT 0 AS stage, n_rows, total_cents FROM full_t
UNION ALL SELECT 1, n_rows, total_cents FROM bad_t
UNION ALL SELECT 2, n_rows, total_cents FROM full_t
ORDER BY stage
""",
)
def ext_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLBACK on the snapshot table format: snapshot A holds the full
    orders table; snapshot B is a bad overwrite that silently loses the
    odd order keys; `rollback_snapshot` then commits snapshot C whose
    manifest is byte-for-byte A's file set — an auditable forward
    commit (Iceberg rollback semantics), NOT a history rewrite: B stays
    readable for forensics, and the rollback survives the same
    put-if-absent concurrency protocol as any commit. The query reads
    all three snapshots and returns each one's (rows, cents) profile;
    the restored stage must exactly equal the original. Zero data files
    move during rollback — it is a manifest-only operation, O(files)
    driver metadata at any table size."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot,
        rollback_snapshot,
        snapshot_files,
        snapshot_meta,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("rb"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    s_good = write_snapshot(o.repartition(2), table)
    s_bad = write_snapshot(
        o.where(F.col("o_orderkey") % 2 == 0).repartition(2), table
    )
    s_restored = rollback_snapshot(table, s_good)
    assert s_restored > s_bad > s_good
    assert snapshot_files(table, s_restored) == snapshot_files(
        table, s_good
    )
    assert snapshot_meta(table, s_restored)["rolled_back_to"] == s_good

    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")
    parts = []
    for stage, sid in enumerate((s_good, s_bad, s_restored)):
        parts.append(
            read_snapshot(spark, table, sid)
            .agg(F.count("*").alias("n_rows"), cents.alias("total_cents"))
            .select(
                F.lit(stage).alias("stage"), "n_rows", "total_cents"
            )
        )
    out = parts[0].unionAll(parts[1]).unionAll(parts[2]).orderBy("stage")
    return out


@register(
    "ext_snapshot_wap",
    survey_id="EXT-SNAP-WAP",
    category="lakehouse",
    oracle="""
WITH o AS (
  SELECT o_orderstatus,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
open_t AS (SELECT COUNT(*) AS n_rows,
                  CAST(SUM(cents) AS BIGINT) AS total_cents
           FROM o WHERE o_orderstatus = 'O'),
both_t AS (SELECT COUNT(*) AS n_rows,
                  CAST(SUM(cents) AS BIGINT) AS total_cents
           FROM o WHERE o_orderstatus IN ('O', 'F'))
SELECT 'pre' AS phase, n_rows, total_cents, FALSE AS audit_passed
FROM open_t
UNION ALL
SELECT 'staged_rejected', n_rows, total_cents, FALSE FROM open_t
UNION ALL
SELECT 'published', n_rows, total_cents, TRUE FROM both_t
ORDER BY phase
""",
)
def ext_snapshot_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish on branch refs — the Iceberg WAP release
    gate: writers commit snapshots freely (immutable manifests), but
    READERS follow the `main` branch pointer, which only an audit
    moves. Phase 1: main points at the open-orders snapshot. Phase 2: a
    batch of finished orders with POISONED (negated) prices is staged
    as a new snapshot; the audit (negative-price count) fails, main
    does not move — a read through main still sees the clean table,
    proving the bad data was never visible. Phase 3: the corrected
    batch stages, the audit passes, and `set_ref` publishes
    atomically (write-temp-then-rename pointer move). The query
    returns what a main-branch reader saw at each phase plus the audit
    verdicts. The staged-but-never-published snapshot remains for
    debugging — exactly the WAP contract. Refs are O(1) metadata; at
    100 TB publish cost is independent of table size."""
    from nibbler_spark.operators.snapshots import (
        read_ref,
        set_ref,
        snapshot_files,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("wap"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    open_orders = o.where(F.col("o_orderstatus") == "O")
    finished = o.where(F.col("o_orderstatus") == "F")

    s_base = write_snapshot(open_orders.repartition(2), table)
    set_ref(table, "main", s_base)
    base_files = snapshot_files(table, s_base)

    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")

    def main_view(phase: str, audit_passed: bool) -> DataFrame:
        return (
            read_ref(spark, table, "main")
            .agg(F.count("*").alias("n_rows"), cents.alias("total_cents"))
            .select(
                F.lit(phase).alias("phase"),
                "n_rows",
                "total_cents",
                F.lit(audit_passed).alias("audit_passed"),
            )
        )

    phases = [main_view("pre", False)]

    def audit(sid: int) -> bool:
        from nibbler_spark.operators.snapshots import read_snapshot

        bad = (
            read_snapshot(spark, table, sid)
            .where(F.col("o_totalprice") < 0)
            .count()
        )
        return bad == 0

    # stage 1: poisoned batch — audit must fail, main must not move
    s_poison = write_snapshot(
        finished.withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ).repartition(2),
        table,
        carry_over=base_files,
    )
    if audit(s_poison):  # pragma: no cover - would be a real bug
        set_ref(table, "main", s_poison)
    phases.append(main_view("staged_rejected", False))

    # stage 2: corrected batch — audit passes, publish
    s_good = write_snapshot(
        finished.repartition(2), table, carry_over=base_files
    )
    passed = audit(s_good)
    if passed:
        set_ref(table, "main", s_good)
    phases.append(main_view("published", passed))

    return phases[0].unionAll(phases[1]).unionAll(phases[2]).orderBy(
        "phase"
    )


@register(
    "ext_partition_evolution",
    survey_id="EXT-PART-EVOLVE",
    category="lakehouse",
    oracle="""
WITH o AS (
  SELECT o_orderstatus, o_orderdate,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT 'by_date' AS phase, COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents, TRUE AS pruned
FROM o WHERE o_orderdate >= TIMESTAMP '1997-01-01'
UNION ALL
SELECT 'by_status', COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM o WHERE o_orderstatus = 'F'
ORDER BY phase
""",
)
def ext_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution — the Iceberg flagship: a table whose OLD
    files are laid out by one key (order status) and whose NEW files
    by another (order year), readable and pruneable through both
    generations at once. This format gets it for free because
    partition pruning is just file pruning against manifest stat
    envelopes: a value-pure file has min == max on its layout key, so
    a status filter prunes the status-partitioned generation, a date
    filter prunes BOTH the year-partitioned generation AND the old
    generation (whose date envelopes predate the cutoff) — no
    partition spec to migrate, no table rewrite when the layout
    changes. The query builds the two generations as successive
    commits (pre-1996 rows one file per status; 1996+ one file per
    year), runs one filtered read per layout key, asserts real file
    skipping happened (files_scanned < files_total), and returns
    oracle-checked results. At 100 TB: pruning is O(files) driver
    metadata; repartitioning a petabyte table becomes 'write new files
    with the new layout' instead of a migration."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot_pruned,
        snapshot_files,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("pe"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    old_gen = o.where(F.col("o_orderdate") < "1996-01-01")
    new_gen = o.where(F.col("o_orderdate") >= "1996-01-01")

    # generation 1: one value-pure file per status
    files: list[str] = []
    statuses = [
        r["o_orderstatus"]
        for r in old_gen.select("o_orderstatus").distinct().collect()
    ]
    for st in sorted(statuses):
        sid = write_snapshot(
            old_gen.where(F.col("o_orderstatus") == st).coalesce(1),
            table,
            carry_over=files,
        )
        files = snapshot_files(table, sid)
    # generation 2 (layout change): one value-pure file per year
    years = [
        r["y"]
        for r in new_gen.select(
            F.year("o_orderdate").alias("y")
        ).distinct().collect()
    ]
    for y in sorted(years):
        sid = write_snapshot(
            new_gen.where(F.year("o_orderdate") == y).coalesce(1),
            table,
            carry_over=files,
        )
        files = snapshot_files(table, sid)

    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")

    df_d, scanned_d, total_d = read_snapshot_pruned(
        spark, table, filters=[("o_orderdate", ">=", "1997-01-01")]
    )
    df_s, scanned_s, total_s = read_snapshot_pruned(
        spark, table, filters=[("o_orderstatus", "=", "F")]
    )
    assert total_d == total_s == len(files)
    # date filter prunes pre-1997 year-files AND the whole old
    # generation; status filter prunes the other status files
    assert scanned_d < total_d, (scanned_d, total_d)
    assert scanned_s < total_s, (scanned_s, total_s)

    by_date = df_d.agg(
        F.count("*").alias("n_rows"), cents.alias("total_cents")
    ).select(
        F.lit("by_date").alias("phase"),
        "n_rows",
        "total_cents",
        F.lit(scanned_d < total_d).alias("pruned"),
    )
    by_status = df_s.agg(
        F.count("*").alias("n_rows"), cents.alias("total_cents")
    ).select(
        F.lit("by_status").alias("phase"),
        "n_rows",
        "total_cents",
        F.lit(scanned_s < total_s).alias("pruned"),
    )
    return by_date.unionAll(by_status).orderBy("phase")


@register(
    "ext_tablesample_bounded",
    survey_id="EXT-TABLESAMPLE",
    category="sql-surface",
    mode="bounded",
    oracle="SELECT TRUE AS within_bound, TRUE AS all_rows_valid",
)
def ext_tablesample_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE (10 PERCENT) REPEATABLE(42) — the SQL sampling
    clause (b13 covers the DataFrame .sample API). Sampling is
    engine-local randomness, so the declared check is the bounded
    contract: the Bernoulli sample size lands within ±5σ of the
    binomial expectation, and every sampled row actually belongs to
    the base table (left-anti count 0 — guards against sample()
    fabricating or duplicating rows). Scale: Bernoulli sampling is a
    row-local filter — no shuffle, full pushdown-compatible."""
    register_temp_views(spark, sf_dir)
    base = load_table(spark, sf_dir, "orders")
    n = base.count()
    s = spark.sql(
        "SELECT o_orderkey FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE(42)"
    )
    k = s.count()
    import math

    sigma = math.sqrt(n * 0.1 * 0.9)
    within = abs(k - 0.1 * n) <= 5 * sigma
    invalid = s.join(
        base.select("o_orderkey"), "o_orderkey", "left_anti"
    ).count()
    return spark.createDataFrame(
        [(bool(within), invalid == 0)],
        "within_bound boolean, all_rows_valid boolean",
    )


@register(
    "sql11_insert_into",
    survey_id="EXT-SQL-INSERT",
    category="sql-surface",
    oracle="""
SELECT COUNT(*) + 1 AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) + 12345
            AS BIGINT) AS total_cents
FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def sql11_insert_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DDL + DML surface: CREATE TABLE (catalog parquet table),
    INSERT INTO ... SELECT (bulk append from a query), and INSERT INTO
    ... VALUES (literal row append) — then an aggregate over the
    resulting table proves both inserts landed exactly once. The
    catalog path degrades gracefully to a temp-view simulation when
    the host session has no writable warehouse (ext_bucketed_join
    precedent). Scale: INSERT INTO...SELECT is a plain distributed
    write — each executor appends its partition's files; the aggregate
    is one map-side-combinable scan."""
    register_temp_views(spark, sf_dir)
    tbl = "nibbler_insert_demo"
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(
            f"CREATE TABLE {tbl} (okey BIGINT, cents BIGINT) USING parquet"
        )
        spark.sql(
            f"""INSERT INTO {tbl}
            SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT)
            FROM orders WHERE o_orderpriority = '1-URGENT'"""
        )
        spark.sql(f"INSERT INTO {tbl} VALUES (-1, 12345)")
        out = spark.sql(
            f"""SELECT COUNT(*) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS total_cents
            FROM {tbl}"""
        )
        # materialize before the cleanup below can race the lazy scan
        rows = out.collect()
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        return spark.createDataFrame(
            rows, "n_rows bigint, total_cents bigint"
        )
    except Exception:
        # read-only warehouse: same semantics through a temp view
        sel = spark.sql(
            """SELECT o_orderkey AS okey,
                      CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_orderpriority = '1-URGENT'"""
        )
        one = spark.createDataFrame(
            [(-1, 12345)], "okey bigint, cents bigint"
        )
        return sel.unionAll(one).agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )


@register(
    "ext_snapshot_metadata_tables",
    survey_id="EXT-SNAP-META",
    category="lakehouse",
    oracle="""
WITH o AS (
  SELECT o_orderstatus,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
counts AS (
  SELECT COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
         COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
         COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
  FROM o
)
SELECT 0 AS snapshot_seq, 'append' AS operation,
       CAST(2 AS BIGINT) AS n_files, CAST(n_o AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_carried FROM counts
UNION ALL
SELECT 1, 'append', 4, n_o + n_f, 2 FROM counts
UNION ALL
SELECT 2, 'append', 6, n_o + n_f + n_p, 4 FROM counts
ORDER BY snapshot_seq
""",
)
def ext_snapshot_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata tables for the snapshot format — the Iceberg
    `table.snapshots` / `table.files` introspection surface: the
    commit history materialized as a queryable DataFrame straight from
    the manifests (snapshot sequence, operation kind, file count,
    MANIFEST-summed row count, carried-over vs new files) with no data
    files read at all — row counts come from the per-file stats
    harvested at commit time. Three append commits (one status each,
    2 files per commit) make every history row's numbers closed-form
    predictable. Scale: manifests are O(files) driver-side JSON; the
    history table never touches data bytes — the whole query is
    metadata, which is exactly what makes `SELECT * FROM
    t.snapshots` instant on petabyte tables."""
    from nibbler_spark.operators.snapshots import (
        snapshot_entries,
        snapshot_files,
        snapshot_meta,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("meta"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    files: list[str] = []
    sids = []
    for st in ("O", "F", "P"):
        sid = write_snapshot(
            o.where(F.col("o_orderstatus") == st).repartition(2),
            table,
            carry_over=files,
            meta={"operation": "append"},
        )
        prev_n = len(files)
        files = snapshot_files(table, sid)
        sids.append((sid, prev_n))
    rows = []
    for seq, (sid, n_carried) in enumerate(sids):
        entries = snapshot_entries(table, sid)
        rows.append(
            (
                seq,
                snapshot_meta(table, sid).get("operation", "append"),
                len(entries),
                sum(e["rows"] or 0 for e in entries),
                n_carried,
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_seq int, operation string, n_files bigint, "
        "n_rows bigint, n_carried bigint",
    ).orderBy("snapshot_seq")


@register(
    "sql12_execute_immediate",
    survey_id="EXT-SQL-EXECIMM",
    category="sql-surface",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders WHERE o_totalprice > CAST(250000.0 AS DOUBLE)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def sql12_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL): the query text lives in
    a session variable and executes with a USING clause binding a
    named parameter — the stored-procedure-style indirection layer,
    pinned here to the same result as the equivalent static SQL. The
    threshold binds as a typed parameter (DOUBLE), not string
    splicing, so the parameterization is injection-safe by
    construction. Scale: the executed plan is identical to the static
    query's — dynamic SQL costs one extra parse, nothing at runtime."""
    register_temp_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE sqltext STRING")
    spark.sql(
        """SET VAR sqltext =
        'SELECT o_orderpriority, COUNT(*) AS n_orders
         FROM orders WHERE o_totalprice > :thr
         GROUP BY o_orderpriority ORDER BY o_orderpriority'"""
    )
    return spark.sql(
        "EXECUTE IMMEDIATE sqltext USING CAST(250000.0 AS DOUBLE) AS thr"
    )


@register(
    "sql13_parameterized_query",
    survey_id="EXT-SQL-PARAM",
    category="sql-surface",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events
WHERE user_id % 10 = 3 AND event_type IN ('click', 'view')
GROUP BY event_type ORDER BY event_type
""",
)
def sql13_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named parameter markers (`:name`) through the spark.sql(query,
    args=...) API — the programmatic parameterized-SQL surface
    (injection-safe binding, plan-cache-friendly literals). Two
    parameters of different types (int modulus target, array for the
    IN list via array_contains). Scale: parameters fold to literals at
    analysis time — pushdown and pruning see them exactly as if
    hand-inlined."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """SELECT event_type, COUNT(*) AS n
           FROM events
           WHERE user_id % 10 = :target
             AND array_contains(:types, event_type)
           GROUP BY event_type ORDER BY event_type""",
        args={"target": 3, "types": ["click", "view"]},
    )


@register(
    "ext_snapshot_asof_timestamp",
    survey_id="EXT-SNAP-ASOF",
    category="lakehouse",
    oracle="""
WITH o AS (
  SELECT o_orderstatus,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT 1000 AS asof_us,
       (SELECT COUNT(*) FROM o WHERE o_orderstatus = 'O') AS n_rows
UNION ALL
SELECT 2500,
       (SELECT COUNT(*) FROM o WHERE o_orderstatus IN ('O', 'F'))
UNION ALL
SELECT 9999,
       (SELECT COUNT(*) FROM o WHERE o_orderstatus IN ('O', 'F', 'P'))
ORDER BY asof_us
""",
)
def ext_snapshot_asof_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel BY TIMESTAMP (`TIMESTAMP AS OF` semantics — the id
    flavor is EXT-TIMETRAVEL): each commit records its commit time in
    manifest meta, and an as-of read resolves to the LATEST snapshot
    whose commit time <= the requested instant (exactly Iceberg's
    snapshot-log lookup). Commit clocks here are synthetic (injected
    via meta) so the resolution rule itself is what's under test, with
    deterministic expected results: reads at t=1000/2500/9999 must see
    exactly commits 1, 2, and 3. Scale: resolution is a driver-side
    scan of O(snapshots) manifest metas — no data IO until the chosen
    snapshot is read."""
    from nibbler_spark.operators.snapshots import (
        latest_snapshot,
        read_snapshot,
        snapshot_files,
        snapshot_meta,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("asof"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    files: list[str] = []
    for st, t_us in (("O", 500), ("F", 2000), ("P", 3000)):
        sid = write_snapshot(
            o.where(F.col("o_orderstatus") == st).repartition(2),
            table,
            carry_over=files,
            meta={"committed_at_us": t_us},
        )
        files = snapshot_files(table, sid)

    def as_of(t_us: int) -> int:
        best = None
        for sid in range(latest_snapshot(table) + 1):
            at = snapshot_meta(table, sid).get("committed_at_us")
            if at is not None and at <= t_us:
                best = sid
        if best is None:
            raise ValueError(f"no snapshot at or before {t_us}")
        return best

    parts = []
    for t_us in (1000, 2500, 9999):
        parts.append(
            read_snapshot(spark, table, as_of(t_us))
            .agg(F.count("*").alias("n_rows"))
            .select(F.lit(t_us).alias("asof_us"), "n_rows")
        )
    return parts[0].unionAll(parts[1]).unionAll(parts[2]).orderBy(
        "asof_us"
    )


_VIEW_SQL = """
SELECT o_orderpriority, COUNT(*) AS n, 
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM big_orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register(
    "sql14_create_view",
    survey_id="EXT-SQL-VIEW",
    category="sql-surface",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (SELECT * FROM orders WHERE o_totalprice > 150000) big_orders
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def sql14_create_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE [TEMPORARY] VIEW DDL + querying through the view — the
    abstraction layer of every SQL warehouse: the view body (a filter
    over orders) inlines into the consuming query at analysis time, so
    predicates and pruning behave exactly as if hand-written (views
    are free at runtime). A second CREATE OR REPLACE redefines the
    view and the next query sees the new definition — the
    definition-resolution rule pinned. Scale: views are catalog
    metadata; zero execution cost."""
    register_temp_views(spark, sf_dir)
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW big_orders AS
           SELECT * FROM orders WHERE o_totalprice > 100000"""
    )
    # redefinition must take effect for subsequent queries
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW big_orders AS
           SELECT * FROM orders WHERE o_totalprice > 150000"""
    )
    return spark.sql(
        """SELECT o_orderpriority, COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                    AS revenue
           FROM big_orders GROUP BY o_orderpriority
           ORDER BY o_orderpriority"""
    )


@register(
    "sql15_identifier_clause",
    survey_id="EXT-SQL-IDENT",
    category="sql-surface",
    oracle="""
SELECT event_type, COUNT(*) AS n FROM events
GROUP BY event_type ORDER BY event_type
""",
)
def sql15_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTIFIER() clause — SQL-injection-safe DYNAMIC table and
    column names (Spark 3.4+): the table name and the grouping column
    arrive as string PARAMETERS, not spliced text, and IDENTIFIER()
    promotes them to catalog references at analysis time. The
    template-query pattern every multi-tenant SQL layer needs without
    string concatenation. Scale: zero runtime cost — resolution
    happens at analysis."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """SELECT IDENTIFIER(:col) AS event_type, COUNT(*) AS n
           FROM IDENTIFIER(:tab)
           GROUP BY IDENTIFIER(:col) ORDER BY IDENTIFIER(:col)""",
        args={"col": "event_type", "tab": "events"},
    )


@register(
    "ext_snapshot_orphan_cleanup",
    survey_id="EXT-SNAP-ORPHAN",
    category="lakehouse",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS orphans_removed,
       TRUE AS reads_unaffected
FROM orders WHERE o_orderstatus = 'F'
""",
)
def ext_snapshot_orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file cleanup (Iceberg remove_orphan_files): a crashed
    writer stages data files that no manifest ever adopts — readers
    never see them, storage pays for them forever. The query commits a
    real snapshot, plants an uncommitted data directory (simulating
    the crash between write and commit), runs the cleanup, and proves
    (a) every orphan is gone, (b) every committed file survived, and
    (c) the table reads byte-identically after cleanup. The referenced
    set unions ALL manifests, so time travel is never broken by
    cleanup. Scale: O(files) driver-side set difference — no data
    IO."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot,
        remove_orphan_files,
        snapshot_files,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("orph"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    write_snapshot(
        o.where(F.col("o_orderstatus") == "F").repartition(2), table
    )
    committed = set(snapshot_files(table, 0))
    # simulate a writer that crashed between staging and commit
    orphan_dir = os.path.join(table, "data-deadbeef0000")
    o.where(F.col("o_orderstatus") == "P").limit(10).write.mode(
        "overwrite"
    ).parquet(orphan_dir)
    removed = remove_orphan_files(table)
    assert removed and all(r.startswith("data-deadbeef") for r in removed)
    assert not [
        f
        for f in os.listdir(orphan_dir)
        if f.endswith(".parquet")
    ]
    assert set(snapshot_files(table, 0)) == committed
    for rel in committed:
        assert os.path.exists(os.path.join(table, rel))
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")
    return (
        read_snapshot(spark, table, 0)
        .agg(F.count("*").alias("n_rows"), cents.alias("total_cents"))
        .select(
            "n_rows",
            "total_cents",
            F.lit(True).alias("orphans_removed"),
            F.lit(True).alias("reads_unaffected"),
        )
    )


@register(
    "ext_snapshot_schema_contract",
    survey_id="EXT-SNAP-CONTRACT",
    category="lakehouse",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS missing_col_rejected,
       TRUE AS retyped_col_rejected,
       CAST(1 AS BIGINT) AS n_snapshots
FROM orders WHERE o_orderstatus = 'O'
""",
)
def ext_snapshot_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema contracts at commit time — the producer-side data
    contract: a table declares its required columns AND exact types,
    and any commit missing a column or silently retyping one (the
    classic double→string drift that breaks every downstream reader)
    aborts BEFORE a single byte is written. Three commits attempted:
    a conforming one (lands), one dropping a column (rejected), one
    retyping the price to string (rejected) — the table must end with
    exactly ONE snapshot and the conforming content. The check is
    pure schema metadata: zero execution, zero IO on the failure
    path — which is what lets it run on every commit at any scale."""
    from nibbler_spark.operators.snapshots import (
        SnapshotConstraintError,
        latest_snapshot,
        read_snapshot,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("contract"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    contract = {
        "o_orderkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
    }
    good = o.where(F.col("o_orderstatus") == "O")
    write_snapshot(
        good.repartition(2), table, schema_contract=contract
    )
    missing_rejected = False
    try:
        write_snapshot(
            good.drop("o_orderstatus"), table, schema_contract=contract
        )
    except SnapshotConstraintError:
        missing_rejected = True
    retyped_rejected = False
    try:
        write_snapshot(
            good.withColumn(
                "o_totalprice", F.col("o_totalprice").cast("string")
            ),
            table,
            schema_contract=contract,
        )
    except SnapshotConstraintError:
        retyped_rejected = True
    n_snaps = latest_snapshot(table) + 1
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")
    return (
        read_snapshot(spark, table)
        .agg(F.count("*").alias("n_rows"), cents.alias("total_cents"))
        .select(
            "n_rows",
            "total_cents",
            F.lit(missing_rejected).alias("missing_col_rejected"),
            F.lit(retyped_rejected).alias("retyped_col_rejected"),
            F.lit(n_snaps).cast("bigint").alias("n_snapshots"),
        )
    )


@register(
    "ext_snapshot_clone",
    survey_id="EXT-SNAP-CLONE",
    category="lakehouse",
    oracle="""
WITH f AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders WHERE o_orderstatus = 'F'
)
SELECT 'deep' AS clone_kind, n_rows, total_cents,
       TRUE AS zero_copy, TRUE AS independent FROM f
UNION ALL
SELECT 'shallow', n_rows, total_cents, TRUE, TRUE FROM f
ORDER BY clone_kind
""",
)
def ext_snapshot_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CLONE (Delta CLONE semantics) on the snapshot format:
    SHALLOW clone commits a manifest whose entries reference the source
    data files through relative paths — ZERO data bytes move (asserted:
    the clone dir contains no data directories) and the clone is
    instantly queryable; DEEP clone copies the files and survives
    source table deletion (asserted by deleting the source and
    re-reading). Both clones read byte-identically to the source
    snapshot. Divergence safety is structural: manifests are immutable
    and each table's new commits land in its own data dirs. At 100 TB
    shallow clone is how dev/test environments fork a production table
    in O(files) metadata."""
    import shutil

    from nibbler_spark.operators.snapshots import (
        clone_snapshot,
        read_snapshot,
        write_snapshot,
    )

    base = scratch_dir("clone")
    src = os.path.join(base, "src")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    sid = write_snapshot(
        o.where(F.col("o_orderstatus") == "F").repartition(2), src
    )
    shallow = os.path.join(base, "shallow")
    deep = os.path.join(base, "deep")
    clone_snapshot(src, shallow, sid, deep=False)
    clone_snapshot(src, deep, sid, deep=True)
    zero_copy = not [
        d for d in os.listdir(shallow) if d.startswith("data-")
    ]
    cents = F.sum(
        F.floor(F.col("o_totalprice") * 100).cast("bigint")
    ).cast("bigint")

    def profile(table: str):
        return read_snapshot(spark, table, 0).agg(
            F.count("*").alias("n_rows"), cents.alias("total_cents")
        )

    shallow_rows = profile(shallow).collect()[0]
    # deep clone must survive source deletion
    shutil.rmtree(src)
    deep_rows = profile(deep).collect()[0]
    independent = tuple(deep_rows) == tuple(shallow_rows)
    return spark.createDataFrame(
        [
            ("deep", deep_rows["n_rows"], deep_rows["total_cents"],
             bool(zero_copy), bool(independent)),
            ("shallow", shallow_rows["n_rows"],
             shallow_rows["total_cents"], bool(zero_copy),
             bool(independent)),
        ],
        "clone_kind string, n_rows bigint, total_cents bigint, "
        "zero_copy boolean, independent boolean",
    ).orderBy("clone_kind")


@register(
    "sql16_pivot_syntax",
    survey_id="EXT-SQL-PIVOT",
    category="sql-surface",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
            THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
         AS F_rev,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
            THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
         AS O_rev,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
            THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
         AS P_rev
FROM orders
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def sql16_pivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (d20 is the DataFrame .pivot API): status
    columns spread from rows with an explicit IN list — the explicit
    list is what keeps the output schema static and the plan a single
    pass (pivot without a list needs a distinct-values pre-query). The
    oracle states the equivalent conditional aggregation — which is
    also exactly how Catalyst lowers PIVOT, so the equivalence IS the
    semantics. Decimal-exact sums under each branch."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """SELECT o_orderpriority,
                  CAST(F AS DOUBLE) AS F_rev,
                  CAST(O AS DOUBLE) AS O_rev,
                  CAST(P AS DOUBLE) AS P_rev
           FROM (
             SELECT o_orderpriority, o_orderstatus,
                    CAST(o_totalprice AS DECIMAL(18,4)) AS price
             FROM orders
           )
           PIVOT (SUM(price) FOR o_orderstatus IN ('F' AS F, 'O' AS O,
                                                   'P' AS P))
           ORDER BY o_orderpriority"""
    )


@register(
    "ext_cached_reuse",
    survey_id="EXT-CACHE",
    category="scale-pattern",
    oracle="""
WITH agg AS (
  SELECT o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders WHERE o_totalprice > 100000
  GROUP BY o_orderpriority
)
SELECT CAST((SELECT COUNT(*) FROM agg) AS BIGINT) AS n_groups,
       (SELECT CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE)
        FROM agg) AS total_rev,
       (SELECT MAX(n) FROM agg) AS max_group_n,
       TRUE AS cache_was_used
""",
)
def ext_cached_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar caching for interactive reuse: an intermediate
    aggregate is .cache()d and consumed by THREE downstream queries;
    the second consumer's plan must show InMemoryTableScan (the cache
    actually served, asserted) and the results must equal the
    recompute-from-scratch oracle. unpersist() runs before returning —
    caches are a leak if unbounded. Scale: caching trades executor
    memory for repeated scans; the right unit is exactly this — a
    SMALL shared intermediate, never the raw fact table."""
    o = load_table(spark, sf_dir, "orders")
    from nibbler_spark.queries._helpers import dec

    agg = (
        o.where(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("rev"),
        )
        .cache()
    )
    try:
        n_groups = agg.count()  # materializes the cache
        plan = (
            agg.agg(F.max("n"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        cache_used = "InMemoryTableScan" in plan
        total_rev = agg.agg(
            F.sum(dec("rev")).cast("double").alias("t")
        ).collect()[0]["t"]
        max_n = agg.agg(F.max("n").alias("m")).collect()[0]["m"]
        return spark.createDataFrame(
            [(n_groups, total_rev, max_n, bool(cache_used))],
            "n_groups bigint, total_rev double, max_group_n bigint, "
            "cache_was_used boolean",
        )
    finally:
        agg.unpersist()


@register(
    "ext_multi_table_txn",
    survey_id="EXT-CATALOG-TXN",
    category="sql-surface",
    mode="parity",
    oracle="""
WITH fact AS (
  SELECT o_orderstatus AS status,
         CASE WHEN o_orderkey % 10 = 0
              THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 1000
              ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       TRUE AS mv_matches_fact,
       TRUE AS v1_consistent_during_stage,
       TRUE AS raw_table_saw_staged
FROM fact GROUP BY status ORDER BY status
""",
)
def ext_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE atomic commit — the consistency level single-table
    formats don't give you: a fact table and its materialized rollup
    live in two snapshot tables, and a versioned CATALOG pointer
    (operators/snapshots.py:catalog_commit — the same put-if-absent
    manifest protocol, one directory up) pins a consistent
    (fact_snapshot, mv_snapshot) pair per transaction. The query
    commits v0 of both, then runs an update transaction in
    stage-then-publish order: the new fact snapshot AND the new MV
    snapshot are both durable in their tables while the catalog still
    points at v0 — a catalog reader mid-crash sees the OLD fact with
    the OLD MV (consistent; asserted), even though a raw
    latest-snapshot reader of the fact table would already see the
    staged update (the torn read the catalog prevents; also
    asserted). After catalog publish, the MV read through the catalog
    must equal the rollup recomputed from the fact read through the
    same catalog version — checked cell-exact, and hash-checked
    against the oracle's direct formulation. Scale: the catalog adds
    one O(tables) JSON pointer per txn on top of O(files) manifests;
    reads cost one extra driver-side resolve."""
    from nibbler_spark.operators.snapshots import (
        catalog_commit,
        catalog_read,
        latest_snapshot,
        read_snapshot,
        write_snapshot,
    )

    root = scratch_dir("cattxn")
    fact_dir = os.path.join(root, "fact")
    mv_dir = os.path.join(root, "mv")
    cat = os.path.join(root, "_catalog")
    os.makedirs(fact_dir)
    os.makedirs(mv_dir)

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("status").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )

    # txn 0: publish fact v0 + mv v0 atomically
    f0 = write_snapshot(o, fact_dir)
    m0 = write_snapshot(rollup(o), mv_dir)
    catalog_commit(
        cat,
        {
            "fact": {"dir": fact_dir, "snapshot_id": f0},
            "mv": {"dir": mv_dir, "snapshot_id": m0},
        },
    )

    # txn 1: stage updated fact + recomputed mv, DON'T publish yet
    o2 = o.select(
        "o_orderkey",
        "status",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("cents") + 1000)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    f1 = write_snapshot(o2, fact_dir)
    m1 = write_snapshot(rollup(o2), mv_dir)

    # crash-window reads: catalog still serves the consistent v0 pair,
    # while a raw latest-snapshot read already sees the staged fact
    pins = catalog_read(cat)
    v0_fact = read_snapshot(
        spark, fact_dir, pins["fact"]["snapshot_id"]
    )
    v0_mv = read_snapshot(spark, mv_dir, pins["mv"]["snapshot_id"])
    v0_consistent = (
        rollup(v0_fact)
        .exceptAll(v0_mv.select("status", "n_orders", "total_cents"))
        .isEmpty()
    )
    raw_saw_staged = latest_snapshot(fact_dir) == f1 and f1 != pins[
        "fact"
    ]["snapshot_id"]

    # publish txn 1
    catalog_commit(
        cat,
        {
            "fact": {"dir": fact_dir, "snapshot_id": f1},
            "mv": {"dir": mv_dir, "snapshot_id": m1},
        },
    )
    pins = catalog_read(cat)
    fact_now = read_snapshot(spark, fact_dir, pins["fact"]["snapshot_id"])
    mv_now = read_snapshot(spark, mv_dir, pins["mv"]["snapshot_id"]).select(
        "status", "n_orders", "total_cents"
    )
    mv_matches = (
        rollup(fact_now).exceptAll(mv_now).isEmpty()
        and mv_now.exceptAll(rollup(fact_now)).isEmpty()
    )
    return mv_now.select(
        "status",
        "n_orders",
        "total_cents",
        F.lit(bool(mv_matches)).alias("mv_matches_fact"),
        F.lit(bool(v0_consistent)).alias("v1_consistent_during_stage"),
        F.lit(bool(raw_saw_staged)).alias("raw_table_saw_staged"),
    ).orderBy("status")


@register(
    "sql17_named_window",
    survey_id="SQL17",
    category="sql-surface",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER w AS rn,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER w
            AS BIGINT) AS running_cents,
       CAST(FLOOR(AVG(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
            OVER w3) AS BIGINT) AS ma3_cents
FROM orders
WHERE o_custkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
       w3 AS (PARTITION BY o_custkey ORDER BY o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
""",
)
def sql17_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL WINDOW clause — one named window definition shared by
    several window functions (plus a second framed definition — Spark
    accepts multiple named windows but not inline extension), the
    spelling analysts
    actually use once a query has three ranked columns. Runs as
    IDENTICAL SQL text on both engines; Spark resolves the named
    window at analysis time into the same single-exchange Window plan
    the E-family queries pin (one partition-by-custkey shuffle
    serving all three functions). The running sum and moving average
    ride exact integer cents; the moving average floors its single
    division."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER w AS rn,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER w
                    AS BIGINT) AS running_cents,
               CAST(FLOOR(AVG(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                    OVER w3) AS BIGINT) AS ma3_cents
        FROM orders
        WHERE o_custkey % 50 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
               w3 AS (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey
        """
    )


@register(
    "ext_gdpr_forget_flow",
    survey_id="EXT-GDPR",
    category="sql-surface",
    mode="parity",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_after,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents_after,
       CAST(0 AS BIGINT) AS target_rows_visible,
       TRUE AS mor_was_logical_only,
       TRUE AS bytes_physically_erased,
       TRUE AS old_snapshots_unreadable
FROM orders WHERE o_custkey % 10 <> 3
""",
)
def ext_gdpr_forget_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten THROUGH the lakehouse — the three-step
    erasure contract GDPR actually requires, each step verified at
    the level it operates on: (1) merge-on-read DELETE of one
    customer's orders via deletion vectors — instantly invisible to
    readers, but the test scans the RAW data files underneath and
    proves the bytes are STILL THERE (MoR is logical deletion; a
    compliance officer must know this); (2) OPTIMIZE-style compaction
    rewrites the live rows into fresh files — now a raw scan of the
    current snapshot's files finds ZERO target rows; (3) VACUUM
    reclaims every pre-compaction file and manifest, and the test
    asserts the target's bytes are gone from DISK (no surviving
    parquet contains them) and the old snapshots are no longer
    readable — erasure is complete only after all three, which is
    exactly the Delta/Iceberg VACUUM-completes-deletion doctrine.
    Scale: DV delete is O(matching rows), compaction O(live data),
    vacuum O(files) driver metadata."""
    from nibbler_spark.operators.snapshots import (
        compact_snapshot,
        delete_from_snapshot,
        latest_snapshot,
        read_snapshot,
        snapshot_files,
        vacuum_snapshots,
    )

    table = scratch_dir("gdpr")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    from nibbler_spark.operators.snapshots import write_snapshot

    write_snapshot(o.repartition(4), table)
    target = F.col("o_custkey") % 10 == 3

    def raw_target_rows(sid: int) -> int:
        files = [os.path.join(table, p) for p in snapshot_files(table, sid)]
        return spark.read.parquet(*files).where(target).count()

    # step 1: MoR delete — logically gone, physically present
    sid1 = delete_from_snapshot(spark, table, target)
    visible_after_delete = (
        read_snapshot(spark, table, sid1).where(target).count()
    )
    mor_logical_only = (
        visible_after_delete == 0 and raw_target_rows(sid1) > 0
    )

    # step 2: compaction — current files no longer contain the bytes
    sid2 = compact_snapshot(spark, table, target_files=2)
    compacted_clean = raw_target_rows(sid2) == 0

    # step 3: vacuum — pre-compaction files and manifests reclaimed
    removed = vacuum_snapshots(table, keep_from=sid2)
    survivors = [
        os.path.join(dirpath, f)
        for dirpath, _, fs in os.walk(table)
        for f in fs
        if f.endswith(".parquet")
    ]
    on_disk_target = 0
    for f in survivors:
        # DV sidecars have a different schema ([_f, _pos]) — skip them
        # by inspecting the footer schema instead of letting the filter
        # fail analysis (an AnalysisException here is re-raised inside
        # Spark's Observation listener and lands as ExecutionListenerBus
        # ERROR noise in otherwise-clean sweep logs).
        df = spark.read.parquet(f)
        if "o_custkey" in df.columns:
            on_disk_target += df.where(target).count()
    old_unreadable = False
    try:
        read_snapshot(spark, table, sid1)
    except Exception:
        old_unreadable = True

    final = read_snapshot(spark, table, sid2)
    return final.agg(
        F.count("*").cast("bigint").alias("n_rows_after"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents_after"),
    ).select(
        "n_rows_after",
        "total_cents_after",
        F.lit(0).cast("bigint").alias("target_rows_visible"),
        F.lit(bool(mor_logical_only)).alias("mor_was_logical_only"),
        F.lit(
            bool(compacted_clean and len(removed) > 0 and on_disk_target == 0)
        ).alias("bytes_physically_erased"),
        F.lit(bool(old_unreadable)).alias("old_snapshots_unreadable"),
    )


@register(
    "ext_snapshot_column_mapping",
    survey_id="EXT-SNAP-RENAME",
    category="sql-surface",
    oracle="""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_amount_cents
FROM orders
WHERE FLOOR(o_totalprice * 100) > 5000000
GROUP BY o_orderstatus ORDER BY status
""",
)
def ext_snapshot_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column RENAME as a metadata-only commit (the Delta column-mapping
    design): commit 0 writes (o_orderkey, total_cents, status); the
    rename commit re-points the logical name `amount_cents` at the
    physical column WITHOUT touching a data file — asserted by
    comparing the two manifests' file lists byte-for-byte. The read
    path translates logical filters to physical names BEFORE stats
    pruning and scan predicates, then renames at the end, so data
    skipping keeps working across renames; time travel to commit 0
    still serves the old name from its own meta. At 100 TB a rename
    is O(1) metadata — the copy-on-write alternative rewrites the
    entire table."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot,
        rename_columns,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("colmap")
    o = load_table(spark, sf_dir, "orders")
    v0 = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias(
            "total_cents"
        ),
        F.col("o_orderstatus").alias("status"),
    )
    s0 = write_snapshot(v0.repartition(2), table)
    s1 = rename_columns(table, {"total_cents": "amount_cents"})
    # metadata-only: identical data file lists, no bytes rewritten
    assert snapshot_files(table, s0) == snapshot_files(table, s1)
    # time travel to the pre-rename commit serves the old logical name
    assert "total_cents" in read_snapshot(spark, table, s0).columns
    cur = read_snapshot(
        spark, table, filters=[("amount_cents", ">", 5000000)]
    )
    assert "amount_cents" in cur.columns
    return (
        cur.groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("amount_cents").cast("bigint").alias("sum_amount_cents"),
        )
        .orderBy("status")
    )


@register(
    "ext_snapshot_row_cdc",
    survey_id="EXT-ROW-CDF",
    category="sql-surface",
    oracle="""
SELECT _change_type, o_orderkey, o_custkey, o_totalprice FROM (
  SELECT 'insert' AS _change_type, o_orderkey + 10000000 AS o_orderkey,
         o_custkey, CAST(100.0 AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 8 = 2
  UNION ALL
  SELECT 'delete', o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 8 = 1
  UNION ALL
  SELECT 'update_preimage', o_orderkey, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 8 = 0
  UNION ALL
  SELECT 'update_postimage', o_orderkey, o_custkey,
         o_totalprice * CAST(1.1 AS DOUBLE)
  FROM orders WHERE o_orderkey % 8 = 0
)
ORDER BY _change_type, o_orderkey
""",
)
def ext_snapshot_row_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL change data feed from a MERGE commit (the Delta CDF
    contract, completing EXT-MERGE-CDC's file-granularity feed): the
    same 4-bucket orders table and U/D/I change set as
    ext_snapshot_merge_into, merged with cdc=True — the merge's own
    rewrite join emits exact row deltas tagged insert / delete /
    update_preimage / update_postimage into a sidecar, so the feed
    costs one extra write of O(changed rows), never a second table
    diff. A downstream incremental consumer can reconstruct the merge
    (retract pre-images, apply post-images) without scanning either
    table version. Hash-checked against the closed-form change set."""
    from nibbler_spark.operators.snapshots import (
        merge_into_snapshot,
        read_row_changes,
        snapshot_files,
        write_snapshot,
    )

    table = scratch_dir("rowcdc")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    carry: list[str] = []
    for b in range(4):
        sid = write_snapshot(
            o.where(F.col("o_orderkey") % 4 == b).coalesce(1),
            table,
            carry_over=carry,
        )
        carry = snapshot_files(table, sid)

    updates = o.where(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_custkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    deletes = o.where(F.col("o_orderkey") % 8 == 1).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    inserts = o.where(F.col("o_orderkey") % 8 == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_custkey",
        F.lit(100.0).alias("o_totalprice"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    sid = merge_into_snapshot(
        spark,
        table,
        changes,
        key="o_orderkey",
        value_cols=["o_custkey", "o_totalprice"],
        cdc=True,
    )
    return (
        read_row_changes(spark, table, sid)
        .select("_change_type", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("_change_type", "o_orderkey")
    )


@register(
    "ext_snapshot_file_lineage",
    survey_id="EXT-SNAP-LINEAGE",
    category="lakehouse",
    oracle="""
SELECT added_in, n_rows FROM (
  SELECT 1 AS added_in,
         CAST(COUNT(CASE WHEN o_orderkey % 4 = 1 THEN 1 END) AS BIGINT)
           AS n_rows FROM orders
  UNION ALL
  SELECT 2, CAST(COUNT(CASE WHEN o_orderkey % 4 = 2 THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 3, CAST(COUNT(CASE WHEN o_orderkey % 4 = 3 THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 4, CAST(COUNT(CASE WHEN o_orderkey % 4 = 0 THEN 1 END)
                 + COUNT(CASE WHEN o_orderkey % 8 = 2 THEN 1 END)
                 AS BIGINT)
  FROM orders
) ORDER BY added_in
""",
)
def ext_snapshot_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE PROVENANCE for the live table state — the Iceberg
    files-table lineage view: for every data file of the latest
    snapshot, which commit first added it, summed here to (commit,
    rows) pairs from manifest stats alone (zero data IO). The fixture
    makes lineage closed-form: four per-bucket append commits (0..3,
    one file each), then a MERGE updating keys ≡0 (mod 8) and
    inserting fresh keys — the touched-file semi-join rewrites
    EXACTLY bucket 0's file (all matched keys live there), so the
    post-merge table must trace bucket-1/2/3 files to their original
    commits (1, 2, 3) and bucket-0's replacement plus the inserts to
    the merge commit (4), with commit 0 contributing nothing. This is
    the audit a platform runs for retention and incident forensics
    ('which commit produced these rows') — at 100 TB it stays a
    driver-side manifest walk."""
    from nibbler_spark.operators.snapshots import (
        file_lineage,
        merge_into_snapshot,
        snapshot_files,
        write_snapshot,
    )

    table = os.path.join(scratch_dir("lineage"), "table")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    carry: list[str] = []
    for b in range(4):
        sid = write_snapshot(
            o.where(F.col("o_orderkey") % 4 == b).coalesce(1),
            table,
            carry_over=carry,
        )
        carry = snapshot_files(table, sid)
    updates = o.where(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_custkey",
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    inserts = o.where(F.col("o_orderkey") % 8 == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_custkey",
        F.lit(100.0).alias("o_totalprice"),
    )
    merge_into_snapshot(
        spark,
        table,
        updates.unionByName(inserts),
        key="o_orderkey",
        value_cols=["o_custkey", "o_totalprice"],
    )
    lin = file_lineage(table)
    return (
        spark.createDataFrame(
            [(e["added_in"], e["rows"]) for e in lin],
            "added_in int, rows long",
        )
        .groupBy("added_in")
        .agg(F.sum("rows").cast("bigint").alias("n_rows"))
        .orderBy("added_in")
    )


@register(
    "ext_manifest_list_pruning",
    survey_id="EXT-MANIFEST-LIST",
    category="lakehouse",
    oracle="""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
WHERE o_orderkey > (SELECT MAX(o_orderkey) FROM orders) * 3 // 4
GROUP BY o_orderstatus ORDER BY status
""",
)
def ext_manifest_list_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL manifest metadata (the Iceberg manifest-list design) —
    what keeps PLANNING fast when the table has a million files: 16
    range-disjoint data files (o_orderkey quantile ranges, one file
    each) commit under 4 shard manifests of 4 entries, and the
    top-level manifest carries only per-shard [min, max] envelopes. A
    filter on the top quarter of the key space must (a) prune at the
    SHARD level — at most 2 of 4 shard entry lists are even parsed —
    then (b) prune files within survivors, and (c) return exactly the
    plain-scan answer (both pruning levels asserted in-query, with
    the single-level flatten reader cross-checked for interop). At
    100 TB: metadata IO scales with surviving shards, not table
    files; data IO scales with surviving files — each level cuts an
    order of magnitude before the scan starts."""
    from nibbler_spark.operators.snapshots import (
        commit_snapshot_sharded,
        file_stats,
        read_sharded_pruned,
        read_snapshot,
        read_snapshot_pruned,
    )

    table = scratch_dir("mlist")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    kmax = o.agg(F.max("o_orderkey")).first()[0]
    entries = []
    for i in range(16):
        lo, hi = kmax * i // 16, kmax * (i + 1) // 16
        part = (
            o.where(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
            )
            if i
            else o.where(F.col("o_orderkey") <= hi)
        )
        ddir = f"data-r{i:02d}"
        part.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(table, ddir)
        )
        for f in os.listdir(os.path.join(table, ddir)):
            if f.endswith(".parquet"):
                rel = os.path.join(ddir, f)
                entries.append(
                    {
                        "path": rel,
                        **file_stats(os.path.join(table, rel)),
                    }
                )
    sid = commit_snapshot_sharded(
        table, entries, shard_key="o_orderkey", files_per_shard=4
    )
    cut = kmax * 3 // 4
    df, sh_kept, sh_total, f_kept, f_total = read_sharded_pruned(
        spark, table, sid, filters=[("o_orderkey", ">", cut)]
    )
    assert sh_total == 4 and sh_kept <= 2, (sh_kept, sh_total)
    assert f_kept < f_total == 16, (f_kept, f_total)
    # interop: the single-level flatten reader sees the same snapshot
    flat, f2, t2 = read_snapshot_pruned(
        spark, table, sid, filters=[("o_orderkey", ">", cut)]
    )
    assert t2 == 16 and f2 == f_kept
    assert read_snapshot(spark, table, sid).count() == o.count()
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("status")
    )


_BITEMPORAL_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(date_part('day', o_orderdate) AS INT) % 20 + 1 AS vf
  FROM orders WHERE o_orderkey % 7 = 0
),
versions AS (
  -- tx 1..10: original belief, valid [vf, 31)
  SELECT k, cents, vf AS valid_from, 31 AS valid_to,
         1 AS tx_from,
         CASE WHEN k % 3 = 0 THEN 11 ELSE 99 END AS tx_to
  FROM base
  UNION ALL
  -- tx 11+: every 3rd order restated (+5%, same validity)
  SELECT k, cents + cents // 20, vf, 31, 11, 99
  FROM base WHERE k % 3 = 0
)
SELECT CAST(SUM(cents) AS BIGINT) AS believed_total,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM versions
WHERE tx_from <= 10 AND 10 < tx_to      -- as known at tx time 10
  AND valid_from <= 15 AND 15 < valid_to  -- about valid time day 15
"""


@register(
    "ext_bitemporal_asof",
    survey_id="EXT-BITEMPORAL",
    category="sql-surface",
    oracle=_BITEMPORAL_ORACLE,
)
def ext_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of query — 'what did we BELIEVE at transaction
    time T about VALID time V': rows carry both a validity interval
    (business reality) and a transaction interval (when the warehouse
    believed it); a restatement CLOSES the old row's tx interval and
    opens a corrected one with the same validity. The two-axis as-of
    is then two half-open interval predicates — the audit query every
    regulated warehouse must answer (the restated +5% rows are
    invisible at tx 10, visible at tx 11+). Built here as a derived
    frame (the oracle mirrors it row-for-row); at scale the pattern
    rides the SCD2 machinery with a second interval pair, and both
    predicates push down to the scan."""
    base = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 7 == 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.dayofmonth("o_orderdate") % 20 + 1).alias("vf"),
    )
    original = base.select(
        "k",
        "cents",
        F.col("vf").alias("valid_from"),
        F.lit(31).alias("valid_to"),
        F.lit(1).alias("tx_from"),
        F.when(F.col("k") % 3 == 0, 11).otherwise(99).alias("tx_to"),
    )
    restated = base.where(F.col("k") % 3 == 0).select(
        "k",
        (F.col("cents") + F.expr("cents div 20")).alias("cents"),
        F.col("vf").alias("valid_from"),
        F.lit(31).alias("valid_to"),
        F.lit(11).alias("tx_from"),
        F.lit(99).alias("tx_to"),
    )
    versions = original.unionByName(restated)
    return versions.where(
        (F.col("tx_from") <= 10)
        & (F.lit(10) < F.col("tx_to"))
        & (F.col("valid_from") <= 15)
        & (F.lit(15) < F.col("valid_to"))
    ).agg(
        F.sum("cents").cast("bigint").alias("believed_total"),
        F.count("*").cast("bigint").alias("n_rows"),
    )


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_name, t.n_orders, t.total_cents
FROM customer c,
LATERAL (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders o WHERE o.o_custkey = c.c_custkey
) t
WHERE t.n_orders >= 3
ORDER BY c.c_custkey
"""


@register(
    "sql18_lateral_join",
    survey_id="EXT-SQL-LATERAL",
    category="sql-surface",
    oracle=_LATERAL_SQL,
)
def sql18_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table (SQL:1999 lateral subquery,
    Spark 4 / DuckDB both support the comma-LATERAL form): each
    customer row drives a correlated aggregate over their orders — the
    row-at-a-time mental model that both optimizers DECORRELATE into a
    keyed aggregate + join (Spark: DecorrelateInnerQuery; DuckDB:
    flatten-dependent-join), which is why it scales. The IDENTICAL SQL
    text runs on both engines; exact cents keep the hash stable.
    Customers with >= 3 orders + their order count and exact spend."""
    register_temp_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@register(
    "ext_mv_query_rewrite",
    survey_id="EXT-MV-REWRITE",
    category="sql-surface",
    oracle="""
WITH q1 AS (
  SELECT o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_orderpriority
),
q2 AS (
  SELECT CAST(o_custkey % 10 AS VARCHAR) AS grp,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey % 10
)
SELECT * FROM (
  SELECT 'q1_by_priority' AS query, 'mv' AS served_from, grp, n_orders,
         cents
  FROM q1
  UNION ALL
  SELECT 'q2_by_custmod', 'fact', grp, n_orders, cents FROM q2
) ORDER BY query, grp
""",
)
def ext_mv_query_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view QUERY REWRITE — the optimizer feature that
    makes MVs worth maintaining (Oracle/Calcite/BigQuery-style
    aggregate subsumption): a (status, priority) rollup MV with
    RETRACTABLE partials (count + exact cents sum) is materialized
    once; an incoming aggregate query is matched by the rewriter —
    requested grouping keys must be a SUBSET of the MV's keys and
    every requested aggregate derivable from the partials (COUNT ->
    SUM of partial counts, SUM -> SUM of partial sums) — and served
    by RE-AGGREGATING THE KILOBYTE MV instead of the fact table. Two
    probe queries run: by-priority (subsumed -> served_from='mv' —
    and its fact scan provably never happens: the MV path touches
    only the materialized rollup) and by-custkey-mod (not derivable
    from the MV keys -> falls back to the fact scan). Results
    hash-match the oracle computed from the base table either way —
    rewrite changes IO, never answers. Scale: this is the 100 TB
    dashboard pattern — a 20-cell MV absorbs the scan for every
    query it subsumes."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"
    )
    mv = pin(
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("p_count"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("p_cents"),
        )  # materialized: the fact scan happened ONCE here
    )
    mv_keys = {"o_orderstatus", "o_orderpriority"}

    def try_rewrite(requested_keys: set[str]):
        """The subsumption matcher: grouping keys ⊆ MV keys ⇒ the MV
        partials re-aggregate to the exact answer."""
        return requested_keys <= mv_keys

    # q1: GROUP BY o_orderpriority — subsumed, serve from the MV
    assert try_rewrite({"o_orderpriority"})
    q1 = (
        mv.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.sum("p_count").cast("bigint").alias("n_orders"),
            F.sum("p_cents").cast("bigint").alias("cents"),
        )
        .select(
            F.lit("q1_by_priority").alias("query"),
            F.lit("mv").alias("served_from"),
            "grp",
            "n_orders",
            "cents",
        )
    )
    # q2: GROUP BY o_custkey % 10 — not derivable from the MV keys
    assert not try_rewrite({"o_custkey"})
    q2 = (
        o.groupBy(
            (F.col("o_custkey") % 10).cast("string").alias("grp")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            F.lit("q2_by_custmod").alias("query"),
            F.lit("fact").alias("served_from"),
            "grp",
            "n_orders",
            "cents",
        )
    )
    return q1.unionByName(q2).orderBy("query", "grp")


@register(
    "ext_snapshot_replace_where",
    survey_id="EXT-REPLACE-WHERE",
    category="sql-surface",
    oracle="""
WITH adjusted AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderstatus = 'F'
              THEN o_totalprice + 100000.0e0 ELSE o_totalprice END AS p
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(p * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(3 AS BIGINT) AS files_before,
       CAST(1 AS BIGINT) AS files_candidate,
       CAST(2 AS BIGINT) AS files_carried
FROM adjusted GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def ext_snapshot_replace_where(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """replaceWhere — the atomic partial-overwrite commit (Delta's
    idempotent backfill primitive): orders is committed as one file
    per order status (3 files whose min/max status stats make the
    predicate region file-resolvable), then
    ``replace_where_snapshot(status = 'F', recomputed F rows)`` swaps
    the F partition in ONE commit: the operator stats-prunes to the
    single candidate file (files_candidate = 1 of 3 — asserted
    in-query from the manifest; the O and P files are carried by
    reference with zero IO), rewrites nothing of them, validates that
    every replacement row satisfies the predicate (the constraint
    that makes replaceWhere safe — violations abort pre-manifest,
    covered in tests), and publishes. The replacement recomputes F
    prices (+100k, an exact IEEE add replicated by the oracle), and
    the post-commit table must hash-match the oracle's adjusted
    orders. This is the missing lifecycle piece between append-only
    commits and full MERGE: backfills touch exactly the declared
    region, atomically."""
    from nibbler_spark.operators.snapshots import (
        latest_snapshot,
        prune_entries,
        read_snapshot,
        replace_where_snapshot,
        snapshot_entries,
        write_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = os.path.join(scratch_dir("rw"), "table")
    statuses = [
        r["o_orderstatus"]
        for r in o.select("o_orderstatus").distinct().collect()
    ]
    carry: list[str] = []
    for st in sorted(statuses):
        sid = write_snapshot(
            o.where(F.col("o_orderstatus") == st).coalesce(1),
            table,
            carry_over=carry,
        )
        from nibbler_spark.operators.snapshots import snapshot_files

        carry = snapshot_files(table, sid)
    base_sid = latest_snapshot(table)
    entries = snapshot_entries(table, base_sid)
    files_before = len(entries)
    files_candidate = len(
        prune_entries(entries, [("o_orderstatus", "=", "F")])
    )
    new_f = o.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") + F.lit(100000.0)).alias("o_totalprice"),
    )
    replace_where_snapshot(
        spark, table, "o_orderstatus", "=", "F", new_f
    )
    back = read_snapshot(spark, table)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            "o_orderstatus",
            "n_rows",
            "cents",
            F.lit(files_before).cast("bigint").alias("files_before"),
            F.lit(files_candidate).cast("bigint").alias(
                "files_candidate"
            ),
            F.lit(files_before - files_candidate)
            .cast("bigint")
            .alias("files_carried"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "ext_bloom_fp_calibration",
    survey_id="EXT-BLOOM-FP",
    category="sql-surface",
    mode="bounded",
    oracle="""
WITH keys AS (
  SELECT c_custkey AS v, c_custkey % 4 AS fid FROM customer
),
ins_pos AS (
  SELECT DISTINCT fid,
         CAST(('0x' || substr(md5(j.j || ':' || CAST(v AS VARCHAR)), 1, 12))
              AS BIGINT) % 4096 AS p
  FROM keys CROSS JOIN generate_series(0, 3) AS j(j)
),
ones AS (
  SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_ones
  FROM ins_pos GROUP BY fid
),
nk AS (SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_keys FROM keys GROUP BY fid),
probes AS (
  SELECT 10000000 + i.i AS v FROM generate_series(0, 999) AS i(i)
),
probe_pos AS (
  SELECT p.v,
         j.j,
         CAST(('0x' || substr(md5(j.j || ':' || CAST(p.v AS VARCHAR)), 1, 12))
              AS BIGINT) % 4096 AS p
  FROM probes p CROSS JOIN generate_series(0, 3) AS j(j)
),
hits AS (
  SELECT f.fid, pp.v,
         CAST(COUNT(*) AS BIGINT) AS n_set
  FROM (SELECT DISTINCT fid FROM keys) f
  CROSS JOIN probe_pos pp
  JOIN ins_pos ip ON ip.fid = f.fid AND ip.p = pp.p
  GROUP BY f.fid, pp.v
),
measured AS (
  SELECT fid, CAST(COUNT(*) AS BIGINT) AS measured_fp
  FROM hits WHERE n_set = 4 GROUP BY fid
)
SELECT o.fid, nk.n_keys, o.n_ones,
       COALESCE(m.measured_fp, 0) AS measured_fp,
       CAST(1000 * o.n_ones * o.n_ones * o.n_ones * o.n_ones
            // 281474976710656 AS BIGINT) AS expected_fp,
       COALESCE(m.measured_fp, 0)
         <= 3 * (1000 * o.n_ones * o.n_ones * o.n_ones * o.n_ones
                 // 281474976710656) + 10
       AND (1000 * o.n_ones * o.n_ones * o.n_ones * o.n_ones
            // 281474976710656)
         <= 3 * COALESCE(m.measured_fp, 0) + 10 AS calibrated
FROM ones o
JOIN nk USING (fid)
LEFT JOIN measured m USING (fid)
ORDER BY o.fid
""",
)
def ext_bloom_fp_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter false-positive CALIBRATION — the check that makes
    manifest blooms trustworthy as a skipping primitive: customer is
    committed as 4 key-partitioned files with per-file md5 blooms
    (m=4096, k=4 — deliberately small so FPs actually occur), 1000
    provably-absent keys probe every file through the real prune-time
    replay (_bloom_may_contain), and the measured FP count per file
    is compared against the exact-occupancy expectation
    1000*(ones/m)^k (computed from each bitset's true popcount, not
    the asymptotic formula). Because the bloom hash is portable md5,
    the ORACLE RECONSTRUCTS THE BITSETS THEMSELVES — inserted
    positions, popcounts, probe hits — so even the measured FP
    counts are hash-checked; the calibrated flag (each side within
    3x + 10 of the other) is then a deterministic assertion, not a
    statistical hope. Scale: bloom build is the distributed bit_or
    aggregate of write_snapshot; probing is driver-side against the
    kilobyte manifests — exactly what pruning does."""
    from nibbler_spark.operators.snapshots import (
        _bloom_may_contain,
        latest_snapshot,
        snapshot_entries,
        snapshot_files,
        write_snapshot,
    )

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    table = os.path.join(scratch_dir("bloomfp"), "table")
    carry: list[str] = []
    fid_of: dict[str, int] = {}
    for fid in range(4):
        sid = write_snapshot(
            c.where(F.col("c_custkey") % 4 == fid).coalesce(1),
            table,
            carry_over=carry,
            bloom_cols=["c_custkey"],
            bloom_m=4096,
            bloom_k=4,
        )
        files = snapshot_files(table, sid)
        for p in files:
            if p not in carry:
                fid_of[p] = fid
        carry = files
    entries = snapshot_entries(table, latest_snapshot(table))
    rows = []
    for e in entries:
        fid = fid_of[e["path"]]
        bl = e["blooms"]["c_custkey"]
        bits = bytes.fromhex(bl["bits"])
        n_ones = sum(bin(b).count("1") for b in bits)
        measured = sum(
            1
            for i in range(1000)
            if _bloom_may_contain(bl, 10000000 + i)
        )
        expected = 1000 * n_ones**4 // 4096**4
        n_keys = c.where(F.col("c_custkey") % 4 == fid).count()
        calibrated = (
            measured <= 3 * expected + 10
            and expected <= 3 * measured + 10
        )
        rows.append((fid, n_keys, n_ones, measured, expected, calibrated))
    return spark.createDataFrame(
        sorted(rows),
        "fid bigint, n_keys bigint, n_ones bigint, measured_fp bigint, "
        "expected_fp bigint, calibrated boolean",
    )


@register(
    "ext_table_profile_onepass",
    survey_id="EXT-PROFILE-1PASS",
    category="sql-surface",
    oracle="""
SELECT * FROM (
  SELECT 'o_custkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
         CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
         CAST(MAX(o_custkey) AS VARCHAR) AS max_val,
         CAST(SUM(o_custkey) AS BIGINT) AS checksum
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
         COUNT(DISTINCT o_orderdate),
         CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR),
         CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR),
         CAST(SUM(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
         COUNT(DISTINCT o_orderkey),
         CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR),
         CAST(SUM(o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
         COUNT(DISTINCT o_orderpriority),
         MIN(o_orderpriority), MAX(o_orderpriority),
         CAST(SUM(length(o_orderpriority)) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
         COUNT(DISTINCT o_orderstatus),
         MIN(o_orderstatus), MAX(o_orderstatus),
         CAST(SUM(length(o_orderstatus)) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
         COUNT(DISTINCT o_totalprice),
         CAST(CAST(FLOOR(MIN(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
         CAST(CAST(FLOOR(MAX(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
  FROM orders
) ORDER BY column_name
""",
)
def ext_table_profile_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profiler, SINGLE-SCAN edition (EXT-PROFILE
    unions one aggregate per column — fine for 3 columns, linear scans
    at 30): per column, row/null/distinct
    counts, min/max (rendered canonically per type: integer cents for
    doubles, ISO dates for timestamps — string rendering of raw
    doubles is NOT engine-portable, the cents grid is), and a
    type-appropriate exact checksum (value sum / length sum / epoch-
    day sum). Computed in ONE pass over the table: all 6 x 5 metrics
    ride a single aggregate (count/countDistinct/min/max/sum per
    column in the same Aggregate node — Catalyst plans one scan), then
    unpivot to the per-column report via stack(). At 100 TB this is
    the profile job you schedule nightly; the single-scan shape is the
    whole game. Scale note: exact countDistinct on 6 columns in one
    agg expands per-column distinct state; swap approx_count_distinct
    at petabyte NDV (the profiler's standard trade, kept exact here
    for the oracle)."""
    o = load_table(spark, sf_dir, "orders")
    day = F.expr(
        "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    )  # NTZ -> µs under the pinned UTC session
    ag = o.agg(
        F.count("*").alias("nr"),
        # o_custkey
        F.count("o_custkey").alias("c_ck"),
        F.countDistinct("o_custkey").alias("d_ck"),
        F.min("o_custkey").cast("string").alias("mn_ck"),
        F.max("o_custkey").cast("string").alias("mx_ck"),
        F.sum("o_custkey").cast("bigint").alias("s_ck"),
        # o_orderdate
        F.count("o_orderdate").alias("c_od"),
        F.countDistinct("o_orderdate").alias("d_od"),
        F.min(F.col("o_orderdate").cast("date"))
        .cast("string")
        .alias("mn_od"),
        F.max(F.col("o_orderdate").cast("date"))
        .cast("string")
        .alias("mx_od"),
        F.sum(day).cast("bigint").alias("s_od"),
        # o_orderkey
        F.count("o_orderkey").alias("c_ok"),
        F.countDistinct("o_orderkey").alias("d_ok"),
        F.min("o_orderkey").cast("string").alias("mn_ok"),
        F.max("o_orderkey").cast("string").alias("mx_ok"),
        F.sum("o_orderkey").cast("bigint").alias("s_ok"),
        # o_orderpriority
        F.count("o_orderpriority").alias("c_op"),
        F.countDistinct("o_orderpriority").alias("d_op"),
        F.min("o_orderpriority").alias("mn_op"),
        F.max("o_orderpriority").alias("mx_op"),
        F.sum(F.length("o_orderpriority")).cast("bigint").alias("s_op"),
        # o_orderstatus
        F.count("o_orderstatus").alias("c_os"),
        F.countDistinct("o_orderstatus").alias("d_os"),
        F.min("o_orderstatus").alias("mn_os"),
        F.max("o_orderstatus").alias("mx_os"),
        F.sum(F.length("o_orderstatus")).cast("bigint").alias("s_os"),
        # o_totalprice
        F.count("o_totalprice").alias("c_tp"),
        F.countDistinct("o_totalprice").alias("d_tp"),
        F.floor(F.min("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("mn_tp"),
        F.floor(F.max("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("mx_tp"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("s_tp"),
    )
    stack = F.expr(
        "stack(6, "
        "'o_custkey', nr - c_ck, d_ck, mn_ck, mx_ck, s_ck, "
        "'o_orderdate', nr - c_od, d_od, mn_od, mx_od, s_od, "
        "'o_orderkey', nr - c_ok, d_ok, mn_ok, mx_ok, s_ok, "
        "'o_orderpriority', nr - c_op, d_op, mn_op, mx_op, s_op, "
        "'o_orderstatus', nr - c_os, d_os, mn_os, mx_os, s_os, "
        "'o_totalprice', nr - c_tp, d_tp, mn_tp, mx_tp, s_tp) "
        "as (column_name, n_nulls, n_distinct, min_val, max_val, checksum)"
    )
    return (
        ag.select(F.col("nr"), stack)
        .select(
            "column_name",
            F.col("nr").cast("bigint").alias("n_rows"),
            F.col("n_nulls").cast("bigint").alias("n_nulls"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            "min_val",
            "max_val",
            F.col("checksum").cast("bigint").alias("checksum"),
        )
        .orderBy("column_name")
    )
