"""Scale-pattern operators (EXT): the three techniques that decide
whether a 100 TB job runs or dies — bucketed co-located joins (no
shuffle of either fact side), salting for skewed aggregations, and
partition-pruned scans. Each is a declared, oracle-checked query plus a
plan assertion in tests/test_plans.py proving the physical property.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nibbler_spark.queries import pin, register, scratch_dir
from nibbler_spark.queries._helpers import dec, dsum, spread, sql_dsum
from nibbler_spark.session import scoped_conf
from nibbler_spark.sources import load_table, table_path


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create (once per session/sf) bucketed copies of orders+lineitem,
    bucketed and sorted by orderkey into 8 buckets each — the layout a
    100 TB deployment would maintain so order-grained joins never
    shuffle."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_") or "sf"
    t_orders = f"nb_orders_b8_{tag}"
    t_lineitem = f"nb_lineitem_b8_{tag}"

    def ensure(table: str, src: str, key: str) -> None:
        if spark.catalog.tableExists(table):
            return
        # A previous session's managed-table directory may linger on disk
        # while this session's in-memory catalog has no such table —
        # clear the orphan location first.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        leftover = os.path.join(wh, table.lower())
        if os.path.exists(leftover):
            shutil.rmtree(leftover, ignore_errors=True)
        load_table(spark, sf_dir, src).write.bucketBy(8, key).sortBy(
            key
        ).mode("overwrite").saveAsTable(table)

    ensure(t_orders, "orders", "o_orderkey")
    ensure(t_lineitem, "lineitem", "l_orderkey")
    return t_orders, t_lineitem


@register(
    "ext_bucketed_join",
    survey_id="EXT-BUCKET",
    category="scale-pattern",
    oracle=f"""
SELECT o_orderpriority,
       {sql_dsum('l_extendedprice')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def ext_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join on pre-bucketed tables: both sides are
    bucketed+sorted by orderkey, so the sort-merge join consumes buckets
    directly — zero exchanges on either fact side (asserted in
    tests/test_plans.py). The batch-layout analogue of co-partitioned
    stream state."""
    try:
        t_orders, t_lineitem = bucketed_tables(spark, sf_dir)
        o = spark.table(t_orders)
        li = spark.table(t_lineitem)
    except Exception:
        # Catalog/warehouse unavailable in the host session (e.g. a
        # read-only cwd): fall back to plain tables — results identical,
        # only the physical layout demo is lost.
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
    # Disable auto-broadcast so the plan demonstrates the bucketed SMJ
    # path (at 100 TB neither side would broadcast anyway).
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                dsum("l_extendedprice").alias("revenue"),
                F.count("*").alias("n_lines"),
            )
            .orderBy("o_orderpriority")
        )


@register(
    "ext_salted_aggregation",
    survey_id="EXT-SALT",
    category="scale-pattern",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       {sql_dsum('value')} AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def ext_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: stage 1 aggregates
    on (key, salt) spreading one hot key over 16 reducers; stage 2
    combines the partials. Decimal partial sums keep the result exactly
    equal to the direct aggregation. (With only 5 event types, EVERY key
    is a hot key — the degenerate case salting exists for.)"""
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(16))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("pv"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("pv").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "ext_partition_pruning",
    survey_id="EXT-PRUNE",
    category="scale-pattern",
    oracle="""
SELECT event_id, event_type, value FROM events
WHERE event_type = 'click' ORDER BY event_id
""",
)
def ext_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned scan: events
    written partitioned by event_type; the filter prunes to one
    directory before any IO (PartitionFilters asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    reading 20 TB and 100 TB."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"nibbler-part-{tag}-events")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, "events").write.mode(
            "overwrite"
        ).partitionBy("event_type").parquet(d)
    return (
        spark.read.parquet(d)
        .where(F.col("event_type") == "click")
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "ext_sorted_layout_skipping",
    survey_id="EXT-LAYOUT",
    category="scale-pattern",
    oracle="""
SELECT event_id, ts, user_id, value FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
ORDER BY event_id
""",
)
def ext_sorted_layout_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered data layout: repartitionByRange(ts) +
    sortWithinPartitions(ts) before the write gives every file/row-group
    a narrow ts min-max band, so a time-window read skips all but the
    overlapping files via parquet statistics. The 100 TB equivalent of an
    index — pure layout, no auxiliary structure. The rewritten copy is
    value-identical to the source (oracle reads the original)."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"nibbler-sorted-{tag}-events")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        (
            load_table(spark, sf_dir, "events")
            .repartitionByRange(8, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(d)
        )
    lo = F.lit("2024-01-10").cast("timestamp")
    hi = F.lit("2024-01-11").cast("timestamp")
    return (
        spark.read.parquet(d)
        .where((F.col("ts") >= lo) & (F.col("ts") < hi))
        .select("event_id", "ts", "user_id", "value")
        .orderBy("event_id")
    )


@register(
    "ext_zorder_key",
    survey_id="EXT-ZORDER",
    category="scale-pattern",
    oracle="""
WITH xy AS (
  SELECT p_partkey,
         p_size AS x,
         CAST(FLOOR((p_retailprice - 900.0) / 1.5625) AS INTEGER) AS y
  FROM part
)
SELECT p_partkey, x, y,
       CAST((
         ((x >> 0) & 1) * 1 + ((y >> 0) & 1) * 2 +
         ((x >> 1) & 1) * 4 + ((y >> 1) & 1) * 8 +
         ((x >> 2) & 1) * 16 + ((y >> 2) & 1) * 32 +
         ((x >> 3) & 1) * 64 + ((y >> 3) & 1) * 128 +
         ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512 +
         ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048
       ) AS BIGINT) AS zval
FROM xy ORDER BY p_partkey
""",
)
def ext_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: bit-interleaving of two
    dimensions (p_size, a 64-bucket price bin — the 1.5625 bucket width
    is an exact binary fraction so FLOOR agrees across engines) into one
    sort key. Writing data ordered by zval gives min-max row-group
    skipping on BOTH dimensions at once — the multi-dimensional upgrade
    of EXT-LAYOUT's single-column range clustering. The interleave is 12
    unrolled bit ops, all codegen'd map-side."""
    p = load_table(spark, sf_dir, "part")
    x = F.col("x")
    y = F.col("y")
    zval = sum(
        [
            (F.shiftright(x, i).bitwiseAND(F.lit(1)) * (1 << (2 * i)))
            for i in range(6)
        ]
        + [
            (F.shiftright(y, i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1)))
            for i in range(6)
        ],
        start=F.lit(0),
    )
    return (
        p.select(
            "p_partkey",
            F.col("p_size").alias("x"),
            F.floor((F.col("p_retailprice") - 900.0) / 1.5625)
            .cast("int")
            .alias("y"),
        )
        .select("p_partkey", "x", "y", zval.cast("bigint").alias("zval"))
        .orderBy("p_partkey")
    )


@register(
    "ext_scd2_history",
    survey_id="EXT-SCD2",
    category="scale-pattern",
    oracle="""
WITH changes AS (
  SELECT o_orderkey, o_totalprice * 1.10 AS new_price
  FROM orders WHERE o_orderkey % 10 = 0
),
closed AS (
  SELECT o.o_orderkey,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
         0 AS version, false AS is_current
  FROM orders o JOIN changes c ON c.o_orderkey = o.o_orderkey
),
unchanged AS (
  SELECT o.o_orderkey,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
         0 AS version, true AS is_current
  FROM orders o WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
),
opened AS (
  SELECT o_orderkey,
         CAST(CAST(new_price AS DECIMAL(18,4)) AS DOUBLE) AS price,
         1 AS version, true AS is_current
  FROM changes
)
SELECT * FROM closed
UNION ALL SELECT * FROM unchanged
UNION ALL SELECT * FROM opened
ORDER BY o_orderkey, version
""",
)
def ext_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: applying a change batch yields
    three row classes — prior versions of changed keys (closed,
    is_current=false), untouched keys (still current), and new versions
    (opened). Built from one left join against the broadcast change set
    + a union; versioned history accumulates append-only, the layout
    CDC lakes use so point-in-time queries are a version filter, not a
    rebuild. Complements EXT-MERGE's overwrite-in-place Type 1."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    changes = o.where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("c_key"),
        (F.col("o_totalprice") * 1.10).alias("new_price"),
    )
    j = o.join(
        F.broadcast(changes), o["o_orderkey"] == changes["c_key"], "left"
    )
    price = F.col("o_totalprice").cast("decimal(18,4)").cast("double")
    changed = F.col("c_key").isNotNull()
    old_rows = j.select(
        "o_orderkey",
        price.alias("price"),
        F.lit(0).alias("version"),
        (~changed).alias("is_current"),
    )
    new_rows = changes.select(
        F.col("c_key").alias("o_orderkey"),
        F.col("new_price").cast("decimal(18,4)").cast("double").alias(
            "price"
        ),
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    return old_rows.unionByName(new_rows).orderBy("o_orderkey", "version")


@register(
    "ext_small_file_compaction",
    survey_id="EXT-COMPACT",
    category="scale-pattern",
    mode="bounded",
    oracle="""
SELECT true AS rows_preserved, true AS files_reduced,
       true AS content_identical
""",
)
def ext_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a table fragmented into 40 files is
    rewritten into 2 via repartition — the maintenance job every
    streaming-append lake needs (thousands of small files destroy scan
    throughput: per-file open cost, tiny row groups, starved
    vectorization). Declared invariants: row count preserved, file
    count strictly reduced, content identical (exceptAll both ways).
    At 100 TB compaction runs per partition with target sizes from
    spark.sql.files.maxPartitionBytes."""
    base = scratch_dir("compact")
    frag, compact = base + "/frag", base + "/compact"
    o = load_table(spark, sf_dir, "orders")
    o.repartition(40).write.mode("overwrite").parquet(frag)
    fragmented = spark.read.parquet(frag)
    fragmented.repartition(2).write.mode("overwrite").parquet(compact)
    compacted = spark.read.parquet(compact)

    def n_files(d: str) -> int:
        return len(
            [f for f in os.listdir(d) if f.endswith(".parquet")]
        )

    rows_ok = fragmented.count() == compacted.count() == o.count()
    files_ok = n_files(compact) < n_files(frag)
    same = (
        fragmented.exceptAll(compacted).count() == 0
        and compacted.exceptAll(fragmented).count() == 0
    )
    return spark.createDataFrame(
        [(bool(rows_ok), bool(files_ok), bool(same))],
        "rows_preserved boolean, files_reduced boolean, "
        "content_identical boolean",
    )


@register(
    "ext_salted_join",
    survey_id="EXT-SALT-JOIN",
    category="scale-pattern",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, m.boost
FROM (SELECT event_id,
             CASE WHEN event_id % 10 < 9 THEN 1 ELSE user_id END AS user_id,
             event_type
      FROM events) e
JOIN (VALUES (1, CAST(10.0 AS DOUBLE)), (2, CAST(20.0 AS DOUBLE)),
             (3, CAST(30.0 AS DOUBLE))) AS m(user_id, boost)
  ON m.user_id = e.user_id
ORDER BY e.event_id
""",
)
def ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for skewed keys: 90% of the fact rows are forced onto
    user_id 1, then the fact side salts its key with a DETERMINISTIC
    event_id%8 component and the small side fans out 8x so the hot key's
    rows spread across 8 tasks instead of one. Output is provably
    identical to the unsalted join (the oracle IS the plain join) —
    salting changes physics, not semantics. Complements EXT-SALT's
    two-phase salted aggregation; AQE skew-join handles this
    automatically for sort-merge joins, but salting remains the manual
    tool for hash joins and for engines mid-migration."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 < 9, F.lit(1))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "event_type",
    )
    m = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "user_id long, boost double"
    )
    n_salt = 8
    salted_e = e.withColumn("salt", (F.col("event_id") % n_salt).cast("int"))
    fanned_m = m.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    ).withColumnRenamed("user_id", "m_user_id")
    return (
        salted_e.join(
            fanned_m,
            (F.col("user_id") == F.col("m_user_id"))
            & (salted_e["salt"] == fanned_m["salt"]),
        )
        .select("event_id", "user_id", "event_type", "boost")
        .orderBy("event_id")
    )


@register(
    "ext_dynamic_partition_pruning",
    survey_id="EXT-DPP",
    category="scale-pattern",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events WHERE event_type = 'click'
GROUP BY event_type ORDER BY event_type
""",
)
def ext_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition pruning: the fact's partition filter is not
    known until runtime — it comes from a FILTERED DIMENSION (documents
    with lang='en', mapped to the 'click' event type), so Catalyst
    injects a dynamicpruning subquery that broadcasts the dim's keys
    into the fact scan's PartitionFilters before IO. The star-schema
    complement to EXT-PRUNE's static pruning: at 100 TB, 'this
    quarter's keys' usually live in a dim table, not in the query text.
    Plan-asserted in tests/test_plans.py."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"nibbler-part-{tag}-events")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, "events").write.mode(
            "overwrite"
        ).partitionBy("event_type").parquet(d)
    fact = spark.read.parquet(d)
    dim = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.when(F.col("lang") == "en", "click")
            .otherwise("view")
            .alias("event_type"),
            "lang",
        )
        .where(F.col("lang") == "en")
        .select("event_type")
        .distinct()
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


def _adaptive_scenario(
    spark: SparkSession, sf_dir: str, skewed: bool
) -> tuple[DataFrame, str]:
    """One adaptive-join scenario: measure the fact side's join-key skew
    (EXT-SKEW-REPORT's statistic), then CONSUME the measurement to pick
    the physical strategy — broadcast if the dim is policy-small, salted
    with the suggested factor if the skew ratio crosses the threshold,
    plain shuffle otherwise. Returns (joined DataFrame, strategy name).

    The decision stats cross the driver as one row (the bounded
    convergence-check pattern); the salt factor is min(ceil(ratio), 32).
    """
    ev = load_table(spark, sf_dir, "events")
    if skewed:
        fact = ev.select(
            "event_id",
            F.when(F.col("event_id") % 10 < 9, F.lit(1))
            .otherwise(F.col("user_id"))
            .alias("user_id"),
        )
    else:
        fact = ev.select("event_id", "user_id")
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn(
            "boost", (F.col("user_id") % 7 + 1).cast("bigint")
        )
    )
    # Policy: dims above this don't broadcast. 10 keeps every fixture
    # (15/150/1500 distinct users) in the MEASURED branches; the
    # broadcast arm is the trivial fast path for genuinely tiny dims.
    broadcast_row_limit = 10
    stats = (
        fact.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_n"),
        )
        .collect()[0]
    )
    ratio = stats["max_n"] / (stats["n_rows"] / stats["n_keys"])
    n_dim = dim.count()
    if n_dim <= broadcast_row_limit:
        return fact.join(F.broadcast(dim), "user_id"), "broadcast"
    if ratio < 4.0:
        return fact.join(dim, "user_id"), "shuffle"
    n_salt = min(int(-(-ratio // 1)), 32)  # ceil, capped
    salted = fact.withColumn(
        "salt", (F.col("event_id") % n_salt).cast("int")
    )
    fanned = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    ).withColumnRenamed("user_id", "d_user_id")
    joined = salted.join(
        fanned,
        (F.col("user_id") == F.col("d_user_id"))
        & (salted["salt"] == fanned["salt"]),
    ).select("event_id", "user_id", "boost")
    return joined, "salted"


@register(
    "ext_adaptive_join_strategy",
    survey_id="EXT-ADAPTIVE-JOIN",
    category="scale-pattern",
    oracle="""
WITH dim AS (
  SELECT user_id, CAST(user_id % 7 + 1 AS BIGINT) AS boost
  FROM (SELECT DISTINCT user_id FROM events)
),
fact_skew AS (
  SELECT event_id,
         CASE WHEN event_id % 10 < 9 THEN 1 ELSE user_id END AS user_id
  FROM events
),
fact_unif AS (SELECT event_id, user_id FROM events),
decide_skew AS (
  SELECT CASE WHEN MAX(n) / (CAST(SUM(n) AS DOUBLE) / COUNT(*)) >= 4.0
              THEN 'salted' ELSE 'shuffle' END AS strategy
  FROM (SELECT user_id, COUNT(*) AS n FROM fact_skew GROUP BY user_id)
),
decide_unif AS (
  SELECT CASE WHEN MAX(n) / (CAST(SUM(n) AS DOUBLE) / COUNT(*)) >= 4.0
              THEN 'salted' ELSE 'shuffle' END AS strategy
  FROM (SELECT user_id, COUNT(*) AS n FROM fact_unif GROUP BY user_id)
)
SELECT * FROM (
  SELECT 'skewed' AS scenario, d.strategy,
         COUNT(*) AS n_rows, CAST(SUM(m.boost) AS BIGINT) AS boost_total
  FROM fact_skew f JOIN dim m ON f.user_id = m.user_id
  CROSS JOIN decide_skew d GROUP BY d.strategy
  UNION ALL
  SELECT 'uniform' AS scenario, d.strategy,
         COUNT(*) AS n_rows, CAST(SUM(m.boost) AS BIGINT) AS boost_total
  FROM fact_unif f JOIN dim m ON f.user_id = m.user_id
  CROSS JOIN decide_unif d GROUP BY d.strategy
) ORDER BY scenario
""",
)
def ext_adaptive_join_strategy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew report → ACTION (r2 verdict next-round #8): the strategy
    chooser measures the fact key histogram and picks plain shuffle,
    broadcast, or an N-way salted join with EXT-SKEW-REPORT's suggested
    factor. Run on both a forced-skew fact (90% of rows on one key →
    ratio ≈ 0.9·n_keys → salted) and the natural distribution (ratio
    ~1.3-1.5 → shuffle); both joins' RESULTS are strategy-invariant, so
    the oracle is the plain join plus the same decision CASE. The plan
    test asserts salt keys appear in the skewed branch's join and not
    in the uniform branch's."""
    out = []
    for name, skewed in (("skewed", True), ("uniform", False)):
        joined, strategy = _adaptive_scenario(spark, sf_dir, skewed)
        out.append(
            joined.agg(
                F.count("*").alias("n_rows"),
                F.sum("boost").cast("bigint").alias("boost_total"),
            ).select(
                F.lit(name).alias("scenario"),
                F.lit(strategy).alias("strategy"),
                "n_rows",
                "boost_total",
            )
        )
    return out[0].unionAll(out[1]).orderBy("scenario")


@register(
    "ext_join_skew_report",
    survey_id="EXT-SKEW-REPORT",
    category="scale-pattern",
    oracle="""
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
),
stats AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(MAX(n) AS BIGINT) AS max_key_rows
  FROM per_key
),
heavy AS (
  SELECT o_custkey, n FROM per_key
  ORDER BY n DESC, o_custkey LIMIT 5
)
SELECT h.o_custkey AS heavy_key,
       CAST(h.n AS BIGINT) AS key_rows,
       s.n_keys, s.n_rows, s.max_key_rows,
       CAST(s.max_key_rows AS DOUBLE)
         / (CAST(s.n_rows AS DOUBLE) / s.n_keys) AS skew_ratio,
       CAST(CEIL(CAST(s.max_key_rows AS DOUBLE)
            / (CAST(s.n_rows AS DOUBLE) / s.n_keys)) AS BIGINT)
         AS suggested_salt
FROM heavy h CROSS JOIN stats s
ORDER BY key_rows DESC, heavy_key
""",
)
def ext_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: per-key row counts for a prospective
    join key (o_custkey), the five heaviest keys, and the skew ratio
    max/mean — whose ceiling is the salting factor EXT-SALT-JOIN would
    apply. The report a pipeline runs BEFORE choosing between plain
    shuffle, AQE skew-join, and explicit salting.

    One keyed aggregate (map-side combined) reduces the table to its
    key histogram; global stats reduce that to one broadcast row, and
    the top-5 is a TakeOrderedAndProject. Integer counts divide to
    bit-identical doubles.
    """
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    stats = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_key_rows"),
    )
    heavy = per_key.orderBy(F.col("n").desc(), "o_custkey").limit(5)
    mean = F.col("n_rows").cast("double") / F.col("n_keys")
    ratio = F.col("max_key_rows").cast("double") / mean
    return (
        heavy.crossJoin(F.broadcast(stats))
        .select(
            F.col("o_custkey").alias("heavy_key"),
            F.col("n").cast("bigint").alias("key_rows"),
            "n_keys",
            "n_rows",
            "max_key_rows",
            ratio.alias("skew_ratio"),
            F.ceil(ratio).cast("bigint").alias("suggested_salt"),
        )
        .orderBy(F.col("key_rows").desc(), "heavy_key")
    )


@register(
    "ext_snapshot_zorder_skipping",
    survey_id="EXT-Z-SKIP",
    category="scale-pattern",
    mode="bounded",
    oracle="""
WITH b AS (
  SELECT MIN(o_custkey) AS clo, MAX(o_custkey) AS chi,
         MIN(o_totalprice) AS plo, MAX(o_totalprice) AS phi
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       TRUE AS pruned, TRUE AS tighter_than_1d
FROM orders o, b
WHERE o.o_custkey >= b.clo + (b.chi - b.clo + 1 + 3) // 4
  AND o.o_custkey <= b.clo + (b.chi - b.clo + 1 + 1) // 2 - 1
  AND o.o_totalprice >= b.plo + (b.phi - b.plo + 1e-9) / 4
  AND o.o_totalprice < b.plo + (b.phi - b.plo + 1e-9) / 2
""",
)
def ext_snapshot_zorder_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-ORDER layout composed with manifest data skipping — the
    EXT-ZORDER key put to work on the snapshot format: orders is
    committed twice across 64 files, once range-partitioned on the
    Morton interleave of (custkey bucket, price bucket) and once
    linearly on custkey, then BOTH snapshots serve the same 2-D box
    filter. The box is the ALIGNED quarter tile (buckets 16..31 on
    each of the 64-bucket axes — the natural-column thresholds are
    derived so they map EXACTLY onto those buckets), and an aligned
    2^j x 2^j tile is one CONTIGUOUS Morton range, so the z-layout
    concentrates the box into a handful of adjacent files: the
    manifest prunes it at least as tightly as the linear layout
    (tighter_than_1d) — which can only skip on custkey and must scan
    every price — while the filtered aggregate hash-matches the
    oracle regardless of layout. The zval column is internal to the
    writer: clustering changes IO, never answers. This is OPTIMIZE
    ZORDER BY in miniature — the knob that lets multi-dimensional
    dashboards skip the files a 1-D sort cannot."""
    from nibbler_spark.operators.snapshots import (
        read_snapshot_pruned,
        write_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    env = o.agg(
        F.min("o_custkey").alias("clo"),
        F.max("o_custkey").alias("chi"),
        F.min("o_totalprice").alias("plo"),
        F.max("o_totalprice").alias("phi"),
    ).first()
    clo, chi, plo, phi = env["clo"], env["chi"], env["plo"], env["phi"]
    crange = chi - clo + 1
    prange = phi - plo + 1e-9

    x = F.least(
        F.lit(63),
        F.floor((F.col("o_custkey") - F.lit(clo)) * 64 / F.lit(crange)),
    ).cast("int")
    y = F.least(
        F.lit(63),
        F.floor((F.col("o_totalprice") - F.lit(plo)) * 64 / F.lit(prange)),
    ).cast("int")
    zx, zy = F.col("zx"), F.col("zy")
    zval = sum(
        [
            (F.shiftright(zx, i).bitwiseAND(F.lit(1)) * (1 << (2 * i)))
            for i in range(6)
        ]
        + [
            (F.shiftright(zy, i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1)))
            for i in range(6)
        ],
        start=F.lit(0),
    )
    zdf = (
        o.withColumn("zx", x)
        .withColumn("zy", y)
        .withColumn("zval", zval.cast("bigint"))
        .drop("zx", "zy")
    )

    tz = scratch_dir("zskip")
    tl = scratch_dir("lskip")
    write_snapshot(zdf.repartitionByRange(64, "zval"), tz)
    write_snapshot(o.repartitionByRange(64, "o_custkey"), tl)

    # bucket(v) = floor((v - lo) * 64 / range); these thresholds are the
    # EXACT natural-column images of buckets 16..31 on both axes, so the
    # filter box equals the aligned quarter z-tile.
    filters = [
        ("o_custkey", ">=", clo + (crange + 3) // 4),
        ("o_custkey", "<=", clo + (crange + 1) // 2 - 1),
        ("o_totalprice", ">=", plo + prange / 4),
        ("o_totalprice", "<", plo + prange / 2),
    ]
    dfz, sz, ntz = read_snapshot_pruned(spark, tz, filters=filters)
    _, sl, _ = read_snapshot_pruned(spark, tl, filters=filters)
    return dfz.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    ).select(
        "n_rows",
        "total_cents",
        F.lit(bool(0 < sz < ntz)).alias("pruned"),
        F.lit(bool(sz <= sl)).alias("tighter_than_1d"),
    )


@register(
    "ext_fuzzy_join_levenshtein",
    survey_id="EXT-FUZZY-JOIN",
    category="scale-pattern",
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM names a JOIN names b
  ON a.p_name < b.p_name
 AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY name_a, name_b
""",
)
def ext_fuzzy_join_levenshtein(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocked FUZZY JOIN (entity resolution): find name pairs within
    edit distance 2. Two scale moves production record linkage always
    makes, both here: (1) match on the DISTINCT-value dictionary, not
    the row stream — the corpus collapses to its term dictionary
    before any pairing; (2) candidate pairs come from an EQUI-join on
    a length band (each name explodes to lengths L-2..L+2 and joins on
    the bucket) — ||a|-|b|| <= 2 is a NECESSARY condition for
    lev <= 2, so the blocking is recall-lossless by construction, and
    the quadratic collapses to Σ per-length-bucket products. The
    Levenshtein filter then runs only on candidates. Hash-exact: both
    engines implement classic unit-cost edit distance."""
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.sequence(
                F.length("p_name") - 2, F.length("p_name") + 2
            )
        ).alias("lb"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.length("p_name").alias("lb")
    )
    cand = a.join(b, "lb").where(F.col("name_a") < F.col("name_b")).select(
        "name_a", "name_b"
    ).distinct()
    return (
        cand.withColumn(
            "dist",
            F.levenshtein("name_a", "name_b").cast("bigint"),
        )
        .where(F.col("dist") <= 2)
        .orderBy("name_a", "name_b")
    )


_ER_ROUNDS = 4

_ER_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part),
pairs AS (
  SELECT a.p_name AS na, b.p_name AS nb
  FROM names a JOIN names b
    ON a.p_name < b.p_name
   AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
  WHERE levenshtein(a.p_name, b.p_name) <= 2
),
edges AS (SELECT na, nb FROM pairs UNION ALL SELECT nb, na FROM pairs),
l0 AS (SELECT p_name AS node, p_name AS label FROM names),
l1 AS (
  SELECT l0.node,
         LEAST(l0.label, COALESCE(MIN(e_l.label), l0.label)) AS label
  FROM l0
  LEFT JOIN (SELECT e.na AS node, l.label
             FROM edges e JOIN l0 l ON l.node = e.nb) e_l
    ON e_l.node = l0.node
  GROUP BY l0.node, l0.label
),
l2 AS (
  SELECT l1.node,
         LEAST(l1.label, COALESCE(MIN(e_l.label), l1.label)) AS label
  FROM l1
  LEFT JOIN (SELECT e.na AS node, l.label
             FROM edges e JOIN l1 l ON l.node = e.nb) e_l
    ON e_l.node = l1.node
  GROUP BY l1.node, l1.label
),
l3 AS (
  SELECT l2.node,
         LEAST(l2.label, COALESCE(MIN(e_l.label), l2.label)) AS label
  FROM l2
  LEFT JOIN (SELECT e.na AS node, l.label
             FROM edges e JOIN l2 l ON l.node = e.nb) e_l
    ON e_l.node = l2.node
  GROUP BY l2.node, l2.label
),
l4 AS (
  SELECT l3.node,
         LEAST(l3.label, COALESCE(MIN(e_l.label), l3.label)) AS label
  FROM l3
  LEFT JOIN (SELECT e.na AS node, l.label
             FROM edges e JOIN l3 l ON l.node = e.nb) e_l
    ON e_l.node = l3.node
  GROUP BY l3.node, l3.label
)
SELECT l4.label AS canonical_name,
       CAST(COUNT(DISTINCT l4.node) AS BIGINT) AS n_variants,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(p.p_partkey) AS BIGINT) AS first_partkey,
       CAST(SUM(CAST(FLOOR(p.p_retailprice * 100) AS BIGINT)) AS BIGINT)
         AS retail_cents
FROM l4 JOIN part p ON p.p_name = l4.node
GROUP BY l4.label ORDER BY canonical_name
"""


@register(
    "ext_entity_resolution",
    survey_id="EXT-ER",
    category="scale-pattern",
    oracle=_ER_ORACLE,
)
def ext_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution — the composite the individual
    primitives exist for: (1) BLOCK on the distinct-name dictionary
    with the recall-lossless length band; (2) MATCH candidates at edit
    distance ≤ 2; (3) CLUSTER matches by 4 rounds of synchronous
    min-label propagation over the match graph (each round one keyed
    join + MIN — the bounded-iteration CC idiom; the oracle unrolls
    the identical rounds, so equality holds whether or not the graph
    has converged); (4) SURVIVORSHIP: every part row re-joins its
    cluster and the golden record keeps the lexicographic-min name as
    canonical plus exact merged aggregates. The fact table only
    participates in the first (dictionary collapse) and last (keyed
    re-join) steps — everything quadratic-ish runs on the tiny
    dictionary, which is what makes the funnel viable at 100 TB."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(
        F.col("p_name").alias("na"),
        F.explode(
            F.sequence(F.length("p_name") - 2, F.length("p_name") + 2)
        ).alias("lb"),
    )
    b = names.select(F.col("p_name").alias("nb"), F.length("p_name").alias("lb"))
    pairs = (
        a.join(b, "lb")
        .where(F.col("na") < F.col("nb"))
        .select("na", "nb")
        .distinct()
        .where(F.levenshtein("na", "nb") <= 2)
    )
    edges = pin(pairs.unionAll(
        pairs.select(F.col("nb").alias("na"), F.col("na").alias("nb"))
    ))
    labels = names.select(
        F.col("p_name").alias("node"), F.col("p_name").alias("label")
    )
    for _ in range(_ER_ROUNDS):
        nb_min = (
            edges.join(labels, edges["nb"] == labels["node"])
            .groupBy(edges["na"].alias("n"))
            .agg(F.min("label").alias("nb_label"))
        )
        labels = pin(
            labels.join(nb_min, labels["node"] == nb_min["n"], "left")
            .select(
                "node",
                F.least(
                    "label", F.coalesce("nb_label", "label")
                ).alias("label"),
            )
        )
    p = load_table(spark, sf_dir, "part")
    return (
        p.join(
            F.broadcast(labels), p["p_name"] == labels["node"]
        )
        .groupBy(F.col("label").alias("canonical_name"))
        .agg(
            F.countDistinct("node").cast("bigint").alias("n_variants"),
            F.count("*").cast("bigint").alias("n_parts"),
            F.min("p_partkey").cast("bigint").alias("first_partkey"),
            F.sum(F.floor(F.col("p_retailprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("retail_cents"),
        )
        .orderBy("canonical_name")
    )


@register(
    "ext_scd2_pointintime_join",
    survey_id="EXT-SCD2-PIT",
    category="scale-pattern",
    oracle="""
WITH dim AS (
  SELECT user_id, ts AS eff_ts, CAST(FLOOR(value) AS BIGINT) AS tier
  FROM events WHERE event_type = 'signup'
),
facts AS (
  SELECT event_id, user_id, ts,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.cents, d.tier, d.eff_ts
FROM facts f ASOF LEFT JOIN dim d
  ON f.user_id = d.user_id AND f.ts >= d.eff_ts
ORDER BY f.event_id
""",
)
def ext_scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against an effective-dated
    dimension — the consumer side of SCD2: every purchase picks up the
    attribute version that was current AT ITS OWN TIMESTAMP (latest
    signup with eff_ts ≤ ts, per user), never a later one — the
    look-ahead-free semantics feature stores call a point-in-time
    lookup. The oracle states it with DuckDB's native ASOF JOIN; the
    Spark plan is the scalable spelling: union-tag dimension and fact
    rows, one user-partitioned sort, and a last-non-null
    (ignore-nulls) window carries the current version forward onto
    each fact — a single keyed exchange instead of a per-fact range
    probe, the same idiom as c11's as-of join. Dimension rows at the
    exact fact timestamp sort first (kind 0 < 1), pinning the
    inclusive boundary."""
    e = load_table(spark, sf_dir, "events")
    dim = e.where(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("bigint").alias("cents"),
        F.floor("value").cast("bigint").alias("tier"),
    )
    facts = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        F.lit(None).cast("bigint").alias("tier"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = dim.unionByName(facts).select(
        "*",
        F.last("tier", ignorenulls=True).over(w).alias("cur_tier"),
        F.last(
            F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True
        )
        .over(w)
        .alias("cur_eff_ts"),
    )
    return (
        tagged.where(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            "cents",
            F.col("cur_tier").alias("tier"),
            F.col("cur_eff_ts").alias("eff_ts"),
        )
        .orderBy("event_id")
    )


@register(
    "ext_grid_spatial_join",
    survey_id="EXT-GRID-JOIN",
    category="scale-pattern",
    oracle="""
WITH pts AS (
  SELECT event_id,
         CAST(('0x' || substr(md5('x:' || event_id), 1, 12)) AS BIGINT)
           % 100000 AS xi,
         CAST(('0x' || substr(md5('y:' || event_id), 1, 12)) AS BIGINT)
           % 100000 AS yi
  FROM events
),
cells AS (
  SELECT event_id, xi, yi, xi // 500 AS cx, yi // 500 AS cy FROM pts
),
offs AS (
  SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)) AS o(dx, dy)
),
pairs AS (
  SELECT a.event_id AS a_id, b.event_id AS b_id,
         (a.xi - b.xi) * (a.xi - b.xi)
           + (a.yi - b.yi) * (a.yi - b.yi) AS d2
  FROM cells a CROSS JOIN offs
  JOIN cells b
    ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
  WHERE a.event_id < b.event_id
    AND (a.xi - b.xi) * (a.xi - b.xi)
          + (a.yi - b.yi) * (a.yi - b.yi) <= 250000
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_total FROM pairs)
SELECT a_id, b_id, d2, n_pairs_total
FROM pairs CROSS JOIN tot
ORDER BY d2, a_id, b_id LIMIT 10
""",
)
def ext_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell spatial radius join — the canonical distributed
    nearest-neighbor pattern (geohash / S2-cell bucketing): points land
    in cells the size of the query radius, candidate pairs come from a
    3x3 neighbor-cell stencil (probe side explodes its 9 neighbor keys,
    one equi-join on the cell key), and the exact radius test runs only
    inside candidates. Coordinates derive deterministically from
    event_id via the portable md5-nibble hash (48 hash bits mod 1e5 per
    axis — genuinely scattered, unlike an LCG whose lattice structure
    starves the radius of pairs), distances are integer-squared — no trig, no doubles, bit-exact everywhere. Output
    is the 10 closest pairs plus the total pair count. Scale: 9x probe
    fanout + one keyed shuffle replaces the all-pairs cross join (the
    same plan indexes Earth-scale point sets; skewed cells respond to
    AQE or a finer grid), top-10 is TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "events")
    def coord(prefix: str):
        h = F.md5(F.concat(F.lit(prefix + ":"), F.col("event_id").cast("string")))
        return (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")) % 100000

    pts = e.select(
        "event_id", coord("x").alias("xi"), coord("y").alias("yi")
    )
    # r11 perf (guide §2.4/§5): materialize the hashed grid once —
    # probe and build both derive from it, and the count+top10 double
    # pass below used to recompute the md5 coordinates four times.
    # Repartition first so the md5 projection spreads (locally the
    # events scan is one split; no-op at real scale).
    cells = pin(
        pts.select(
            "event_id", "xi", "yi",
            F.expr("xi div 500").alias("cx"),
            F.expr("yi div 500").alias("cy"),
        )
        .transform(spread)
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = (
        cells.withColumn("o", F.explode(offs))
        .select(
            F.col("event_id").alias("a_id"),
            F.col("xi").alias("ax"),
            F.col("yi").alias("ay"),
            (F.col("cx") + F.col("o.dx")).alias("jx"),
            (F.col("cy") + F.col("o.dy")).alias("jy"),
        )
    )
    build = cells.select(
        F.col("event_id").alias("b_id"),
        F.col("xi").alias("bx"),
        F.col("yi").alias("by"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    # The global count AND the top-10 both consume the full pair set;
    # without the checkpoint the stencil join ran twice (once under the
    # broadcast count, once under the sort). One linear write of 24-byte
    # pair rows replaces a second 9x-fanout shuffle join — the exact
    # count forces a full pass over the pairs either way (guide §2.4).
    pairs = pin(
        probe.join(build, ["jx", "jy"])
        .where((F.col("a_id") < F.col("b_id")) & (d2 <= 250000))
        .select("a_id", "b_id", d2.alias("d2"))
    )
    tot = pairs.agg(F.count("*").cast("bigint").alias("n_pairs_total"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .orderBy("d2", "a_id", "b_id")
        .limit(10)
    )


@register(
    "ext_parquet_agg_pushdown",
    survey_id="EXT-AGG-PUSHDOWN",
    category="scale-pattern",
    oracle="""
SELECT COUNT(*) AS n_rows,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       CAST(MAX(l_partkey) AS BIGINT) AS max_part
FROM lineitem
""",
)
def ext_parquet_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown INTO the parquet footers
    (spark.sql.parquet.aggregatePushdown): COUNT/MIN/MAX over the bare
    table are answered from row-group statistics — zero data pages
    read, the same trick the snapshot manifests exploit at commit
    time, here done by the scan itself. The plan is asserted to carry
    `PushedAggregation` (the query fails loudly if the rewrite ever
    stops applying — e.g. a nullable-type edge). At 100 TB this is
    the difference between a metadata read and a full scan for the
    table-profile class of queries."""
    # aggregate pushdown lives in the DSv2 parquet reader only, so this
    # row reads the file itself instead of through load_table
    with scoped_conf(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "avro,csv,json,kafka,orc,text",
        },
    ):
        li = spark.read.parquet(table_path(sf_dir, "lineitem"))
        out = li.agg(
            F.count("*").alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # numeric/count aggregates only: a timestamp MIN/MAX silently
        # disables the rewrite (PushedAggregation: []) — asserted so a
        # regression is loud
        assert "PushedAggregation: [COUNT(*)" in plan, plan[:2000]
        return out


@register(
    "ext_runtime_bloom_filter_join",
    survey_id="EXT-RUNTIME-BLOOM",
    category="scale-pattern",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_totalprice > 400000
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def ext_runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter injection
    (spark.sql.optimizer.runtime.bloomFilter) — Spark's automatic
    version of the ext_bloom_semi_join pattern: a selective filter on
    the orders side makes the optimizer build a Bloom filter over the
    surviving join keys and push `might_contain` into the LINEITEM
    scan, so most fact rows die before the shuffle instead of after
    it. Thresholds are lowered so the rewrite triggers at test scale;
    the plan is asserted to carry the bloom probe. At 100 TB this is
    the shuffle-volume lever for every selective fact-fact join that
    broadcast can't serve."""
    bloom = "spark.sql.optimizer.runtime.bloomFilter"
    with scoped_conf(
        spark,
        {
            f"{bloom}.enabled": "true",
            f"{bloom}.creationSideThreshold": "100MB",
            f"{bloom}.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > 400000
        )
        out = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_lines"),
                dsum("l_extendedprice").alias("revenue"),
            )
            .orderBy("o_orderpriority")
        )
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "might_contain" in plan, (
            plan[:2000]
        )
        return out


@register(
    "ext_distributed_id_assignment",
    survey_id="EXT-ID-ASSIGN",
    category="scale-pattern",
    oracle="""
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) AS stable_id
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(stable_id) AS BIGINT) AS min_id,
       CAST(MAX(stable_id) AS BIGINT) AS max_id,
       CAST(SUM(stable_id * (doc_id % 97)) AS BIGINT) AS assignment_hash,
       TRUE AS monotonic_ids_unique
FROM ranked
""",
)
def ext_distributed_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed surrogate-id assignment — the two industrial
    options side by side: `monotonically_increasing_id()` (cheap,
    shuffle-free, but partition-encoded and GAP-FULL — checked here
    for uniqueness only, the one property it guarantees) versus a
    gap-free deterministic dense id from the bucketed two-phase rank
    (`_helpers.two_phase_rank`, no unpartitioned window), whose full
    assignment is hash-pinned against the oracle's row_number. The
    assignment_hash ties every doc to its exact id, so ANY
    partition-count-dependence in the two-phase rank would fail the
    oracle. Scale: the monotonic path is free; the dense path costs
    one tiny bucket-count aggregate + a bucket-partitioned window."""
    from nibbler_spark.queries._helpers import two_phase_rank

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    mono = d.select(
        "doc_id", F.monotonically_increasing_id().alias("mid")
    )
    n, n_mid = (
        mono.agg(
            F.count("*").alias("n"),
            F.countDistinct("mid").alias("nm"),
        )
        .first()
        [0:2]
    )
    ranked = two_phase_rank(
        d,
        bucket=(F.col("doc_id") / 100).cast("bigint"),
        order_cols=[F.col("doc_id")],
        out="stable_id",
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("stable_id").cast("bigint").alias("min_id"),
        F.max("stable_id").cast("bigint").alias("max_id"),
        F.sum(F.col("stable_id") * (F.col("doc_id") % 97))
        .cast("bigint")
        .alias("assignment_hash"),
        F.lit(bool(n == n_mid)).alias("monotonic_ids_unique"),
    )


@register(
    "ext_bucket_pruning",
    survey_id="EXT-BUCKET-PRUNE",
    category="scale-pattern",
    oracle="""
SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue
FROM lineitem WHERE l_orderkey = 9988
GROUP BY l_orderkey
""",
)
def ext_bucket_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket pruning — the point-lookup payoff of the bucketed layout
    (ext_bucketed_join demonstrated the join payoff): an equality
    filter on the bucketing key lets the scan read ONLY the one bucket
    the key hashes into (SelectedBucketsCount: 1 out of 8, asserted in
    the plan), an 8x IO cut that generalizes to any bucket count. At
    100 TB the same layout thus serves BOTH the shuffle-free fact-fact
    join AND sub-second key lookups — the two access patterns that
    usually force keeping two copies of the data. Falls back to the
    plain filter when the catalog is unavailable (results identical
    either way)."""
    try:
        _, t_lineitem = bucketed_tables(spark, sf_dir)
        li = spark.table(t_lineitem)
        out = (
            li.where(F.col("l_orderkey") == 9988)
            .groupBy(F.col("l_orderkey").alias("o_orderkey"))
            .agg(
                F.count("*").alias("n_lines"),
                F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
            )
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:1500]
        return out
    except AssertionError:
        raise
    except Exception:
        li = load_table(spark, sf_dir, "lineitem")
        return (
            li.where(F.col("l_orderkey") == 9988)
            .groupBy(F.col("l_orderkey").alias("o_orderkey"))
            .agg(
                F.count("*").alias("n_lines"),
                F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
            )
        )


@register(
    "ext_null_skew_join",
    survey_id="EXT-NULLSKEW",
    category="scale-pattern",
    oracle="""
WITH f AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN NULL
              ELSE user_id % 1500 END AS k,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events
),
d AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer)
SELECT COALESCE(d.seg, '<null-key>') AS seg,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(f.cents) AS BIGINT) AS total_cents
FROM f LEFT JOIN d ON f.k = d.k
GROUP BY COALESCE(d.seg, '<null-key>')
ORDER BY seg
""",
)
def ext_null_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key skew handling — the production outer-join pitfall: a
    third of the fact rows carry NULL join keys, and unlike an inner
    join (where Catalyst injects IsNotNull and drops them before the
    exchange) a LEFT join must PRESERVE them — the naive plan ships
    every NULL to one hash partition and that straggler owns 33% of
    the table. The fix is the null-split: route NULL-key rows AROUND
    the join entirely (they can never match — emit them with null dim
    columns directly) and join only the non-null slice, then union.
    Identical results to the plain LEFT JOIN (the oracle states that
    plain join), with the skew mass never entering the shuffle; the
    same split is what AQE's skew handling cannot do for you, because
    NULLs are one value, not a splittable range. Dim side broadcasts
    here; the pattern matters when it can't."""
    f = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0, F.lit(None).cast("bigint")
        )
        .otherwise(F.col("user_id") % 1500)
        .alias("k"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    d = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("seg")
    )
    nn = f.where(F.col("k").isNotNull()).join(d, "k", "left")
    nulls = f.where(F.col("k").isNull()).select(
        "k", "event_id", "cents", F.lit(None).cast("string").alias("seg")
    )
    unioned = nn.select("k", "event_id", "cents", "seg").unionByName(
        nulls
    )
    return (
        unioned.groupBy(
            F.coalesce("seg", F.lit("<null-key>")).alias("seg")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("seg")
    )


def _interleave_sql(lon: str, lat: str, shl: str, shr: str) -> str:
    """30-bit Morton interleave of two 15-bit ints as a flat bit-op sum.

    ``shl``/``shr`` spell shift syntax per engine: Spark uses the
    shiftleft/shiftright functions, DuckDB the << / >> operators. The
    generated expression is pure integer ops — engine-exact."""
    terms = []
    for i in range(15):
        if shl == "func":
            terms.append(f"shiftleft(shiftright({lon}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({lat}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({lon} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({lat} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_chars_sql(gh: str, substr: str, shr_fn: bool) -> str:
    """6-char base32 geohash string from a 30-bit Morton code."""
    parts = []
    for k in range(6):
        idx = (
            f"(shiftright({gh}, {25 - 5 * k}) & 31)"
            if shr_fn
            else f"(({gh} >> {25 - 5 * k}) & 31)"
        )
        parts.append(f"{substr}('{_GH_ALPHA}', CAST({idx} AS INT) + 1, 1)")
    return " || ".join(parts) if not shr_fn else "concat(" + ", ".join(parts) + ")"


@register(
    "ext_geohash_encode",
    survey_id="EXT-GEOHASH",
    category="scale-pattern",
    oracle=f"""
WITH pts AS (
  SELECT event_id,
         CAST(('0x' || substr(md5('lon:' || CAST(event_id AS VARCHAR)), 1, 12))
              AS BIGINT) % 32768 AS lon,
         CAST(('0x' || substr(md5('lat:' || CAST(event_id AS VARCHAR)), 1, 12))
              AS BIGINT) % 32768 AS lat
  FROM events
),
gh AS (
  SELECT event_id, lon, lat,
         {_interleave_sql('lon', 'lat', 'op', 'op')} AS code
  FROM pts
),
s AS (
  SELECT event_id, lon, lat, code,
         {_gh_chars_sql('code', 'substr', False)} AS geohash
  FROM gh
)
SELECT substr(geohash, 1, 2) AS prefix2,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(MIN(lon >> 10) AS INT) AS lon_cell_min,
       CAST(MAX(lon >> 10) AS INT) AS lon_cell_max,
       CAST(MIN(lat >> 10) AS INT) AS lat_cell_min,
       CAST(MAX(lat >> 10) AS INT) AS lat_cell_max
FROM s GROUP BY 1 ORDER BY prefix2
""",
)
def ext_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash ENCODING from scratch as the spatial partition key — the
    string-prefix form of the Morton/Z-order curve (companion to
    EXT-ZORDER's numeric key and EXT-SPATIAL's grid cells): 15-bit
    lon/lat integers (md5-derived) interleave into a 30-bit Morton
    code via a flat 30-term bit-op expression (whole-stage codegen,
    no UDF, no loop), then render as 6 base32 characters with the
    standard geohash alphabet. The defining PREFIX-LOCALITY contract
    is proven in-query: every 2-character prefix group must occupy
    exactly one (lon >> 10, lat >> 10) cell — min and max cell ids
    per group are emitted and must coincide (a prefix of 10 Morton
    bits IS 5 lon + 5 lat high bits). At 100 TB the geohash string is
    the hive partition / clustering key: prefix range scans become
    partition pruning, neighbor queries become prefix joins — all
    computed here with pure integer ops identical in both engines."""
    e = load_table(spark, sf_dir, "events")

    def coord(prefix: str):
        h = F.md5(
            F.concat(F.lit(prefix + ":"), F.col("event_id").cast("string"))
        )
        return (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")) % 32768

    pts = e.select(
        "event_id", coord("lon").alias("lon"), coord("lat").alias("lat")
    )
    gh = pts.withColumn(
        "code", F.expr(_interleave_sql("lon", "lat", "func", "func"))
    )
    s = gh.withColumn(
        "geohash", F.expr(_gh_chars_sql("code", "substring", True))
    )
    return (
        s.groupBy(F.substring("geohash", 1, 2).alias("prefix2"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min(F.expr("shiftright(lon, 10)")).cast("int").alias(
                "lon_cell_min"
            ),
            F.max(F.expr("shiftright(lon, 10)")).cast("int").alias(
                "lon_cell_max"
            ),
            F.min(F.expr("shiftright(lat, 10)")).cast("int").alias(
                "lat_cell_min"
            ),
            F.max(F.expr("shiftright(lat, 10)")).cast("int").alias(
                "lat_cell_max"
            ),
        )
        .orderBy("prefix2")
    )


@register(
    "ext_roaring_bitmap_index",
    survey_id="EXT-ROARING",
    category="scale-pattern",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(COUNT(DISTINCT o_orderkey // 65536) AS BIGINT)
         AS n_containers,
       TRUE AS roundtrip_ok,
       CAST(SUM(CASE WHEN o_orderkey < 40000 THEN 1 ELSE 0 END)
            AS BIGINT) AS inter_dense,
       CAST(COUNT(*) + 40000
            - SUM(CASE WHEN o_orderkey < 40000 THEN 1 ELSE 0 END)
            AS BIGINT) AS union_dense
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '5-LOW')
GROUP BY o_orderpriority ORDER BY priority
""",
)
def ext_roaring_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROARING BITMAP indexes from the public portable format — the
    bitmap-index interchange format OLAP engines share (array / 8 KiB
    bitmap / run containers under the 12346/12347 cookies, the spec's
    size rule choosing per-container encodings). Per order priority,
    the orderkey set becomes a roaring bitmap INSIDE its group
    (applyInPandas — the per-partition shape of real index builders),
    serializes, deserializes byte-faithfully, and intersects/unions
    CONTAINER-WISE with a dense [0, 40000) range (run-encoded: 65536
    consecutive values cost 25 bytes) — the whole point of the format:
    AND of a bitmap and an array container touches the array's
    entries, never 65536 bits. Cardinalities, container counts, and
    both set-algebra results are closed-form for the oracle. At
    100 TB bitmap indexes build per partition and OR-merge by
    container key — exactly this code's shape."""
    import pandas as _pd

    from nibbler_spark.operators.roaring import (
        roaring_deserialize,
        roaring_serialize,
    )

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM", "5-LOW")
    ).select(F.col("o_orderpriority").alias("priority"), "o_orderkey")

    def build(pdf: _pd.DataFrame) -> _pd.DataFrame:
        keys = set(int(k) for k in pdf["o_orderkey"])
        z = roaring_serialize(keys)
        back = roaring_deserialize(z)
        dense = set(range(40000))
        zd = roaring_serialize(dense)
        dense_back = roaring_deserialize(zd)
        inter = len(back & dense_back)
        union = len(back | dense_back)
        return _pd.DataFrame(
            {
                "priority": [str(pdf["priority"].iloc[0])],
                "n_keys": [len(keys)],
                "n_containers": [len({k >> 16 for k in keys})],
                "roundtrip_ok": [back == keys and dense_back == dense],
                "inter_dense": [inter],
                "union_dense": [union],
            }
        )

    return (
        o.groupBy("priority")
        .applyInPandas(
            build,
            "priority string, n_keys long, n_containers long, "
            "roundtrip_ok boolean, inter_dense long, union_dense long",
        )
        .orderBy("priority")
    )


@register(
    "ext_roaring_distributed_union",
    survey_id="EXT-ROARING-MERGE",
    category="scale-pattern",
    oracle="""
SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS cardinality,
       CAST(COUNT(DISTINCT o_orderkey // 65536) AS BIGINT)
         AS n_containers,
       TRUE AS roundtrip_ok
FROM orders
""",
)
def ext_roaring_distributed_union(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DISTRIBUTED roaring OR-merge — how bitmap indexes actually build
    at scale: every partition serializes its local keys into a roaring
    bitmap (partition-local, mapInPandas), the shuffle carries one
    SERIALIZED CONTAINER per (partition, high-16-bits key) — kilobytes
    instead of raw key lists — and a per-container-key reduce ORs the
    payloads (applyInPandas on the container key: array/bitmap/run
    containers union in their compressed domain). The global
    cardinality of the merged index must equal COUNT(DISTINCT) and a
    final serialize/deserialize roundtrip must hold. This is the
    treeAggregate shape of Druid/Pinot segment merges expressed as
    DataFrame ops; at 100 TB the reduce is keyed on 2-byte container
    ids, perfectly partitionable, and each reducer touches at most
    8 KiB per input container."""
    import pandas as _pd

    from nibbler_spark.operators.roaring import (
        roaring_deserialize,
        roaring_serialize,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")

    def local_bitmaps(batches):
        for pdf in batches:
            per_key: dict[int, set] = {}
            for k in pdf["o_orderkey"]:
                k = int(k)
                per_key.setdefault(k >> 16, set()).add(k)
            yield _pd.DataFrame(
                {
                    "ckey": list(per_key),
                    "payload": [
                        roaring_serialize(per_key[c]) for c in per_key
                    ],
                }
            )

    locals_ = spread(o).mapInPandas(
        local_bitmaps, "ckey int, payload binary"
    )

    def or_merge(pdf: _pd.DataFrame) -> _pd.DataFrame:
        merged: set = set()
        for p in pdf["payload"]:
            merged |= roaring_deserialize(bytes(p))
        z = roaring_serialize(merged)
        ok = roaring_deserialize(z) == merged
        return _pd.DataFrame(
            {
                "ckey": [int(pdf["ckey"].iloc[0])],
                "card": [len(merged)],
                "ok": [ok],
            }
        )

    merged = locals_.groupBy("ckey").applyInPandas(
        or_merge, "ckey int, card long, ok boolean"
    )
    return merged.agg(
        F.sum("card").cast("bigint").alias("cardinality"),
        F.count("*").cast("bigint").alias("n_containers"),
        F.min("ok").alias("roundtrip_ok"),
    )


_PIP_POLYS = [
    # polygon_id, vertices (counter-clockwise, integer grid coordinates
    # on the same 0..99999 lattice the md5 point scatter uses)
    (1, [(10000, 10000), (60000, 10000), (60000, 30000), (30000, 30000),
         (30000, 60000), (10000, 60000)]),               # L-shape (concave)
    (2, [(70000, 50000), (90000, 70000), (70000, 90000),
         (50000, 70000)]),                               # diamond
    (3, [(20000, 70000), (45000, 95000), (5000, 95000)]),  # triangle
]


def _pip_edges() -> list[tuple[int, int, int, int, int, int]]:
    rows = []
    for pid, verts in _PIP_POLYS:
        for k in range(len(verts)):
            x1, y1 = verts[k]
            x2, y2 = verts[(k + 1) % len(verts)]
            rows.append((pid, k, x1, y1, x2, y2))
    return rows


def _pip_edges_sql() -> str:
    vals = ", ".join(
        f"({pid}, {k}, {x1}, {y1}, {x2}, {y2})"
        for pid, k, x1, y1, x2, y2 in _pip_edges()
    )
    return f"(VALUES {vals}) AS e(pid, k, x1, y1, x2, y2)"


@register(
    "ext_point_in_polygon",
    survey_id="EXT-PIP",
    category="scale-pattern",
    oracle=f"""
WITH pts AS (
  SELECT event_id,
         CAST(('0x' || substr(md5('x:' || event_id), 1, 12)) AS BIGINT)
           % 100000 AS xi,
         CAST(('0x' || substr(md5('y:' || event_id), 1, 12)) AS BIGINT)
           % 100000 AS yi
  FROM events
),
edges AS (SELECT * FROM {_pip_edges_sql()}),
crossings AS (
  SELECT p.event_id, p.xi, p.yi, e.pid,
         CASE WHEN (e.y1 > p.yi) <> (e.y2 > p.yi)
               AND (CASE WHEN e.y2 - e.y1 > 0
                         THEN (p.xi - e.x1) * (e.y2 - e.y1)
                              < (p.yi - e.y1) * (e.x2 - e.x1)
                         ELSE (p.xi - e.x1) * (e.y2 - e.y1)
                              > (p.yi - e.y1) * (e.x2 - e.x1) END)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e
),
inside AS (
  SELECT event_id, xi, yi, pid, SUM(c) % 2 AS par
  FROM crossings GROUP BY event_id, xi, yi, pid
)
SELECT pid AS polygon_id,
       CAST(SUM(par) AS BIGINT) AS n_inside,
       CAST(SUM(CASE WHEN par = 1 THEN event_id ELSE 0 END) AS BIGINT)
         AS id_checksum,
       CAST(SUM(CASE WHEN par = 1 THEN xi + yi ELSE 0 END) AS BIGINT)
         AS coord_checksum
FROM inside GROUP BY pid ORDER BY pid
""",
)
def ext_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon spatial join by integer ray casting — the
    even-odd crossing rule evaluated entirely in BIGINT cross-multiplied
    form (a horizontal ray from the point crosses edge (p1,p2) iff the
    endpoints straddle the ray's y — half-open rule `>` on both ends so
    shared vertices count once — and the point lies left of the edge at
    that y; the x-intersection comparison px < x1 + (py-y1)(x2-x1)/
    (y2-y1) is cross-multiplied by (y2-y1) with the inequality flipped
    on its sign, so there is NO division and NO doubles anywhere —
    bit-exact in any engine, degenerate on-edge/on-vertex cases
    included, because both engines run the identical integer
    predicate). Point coordinates are the md5-nibble scatter shared
    with ext_grid_spatial_join; the polygon set (a concave L, a
    diamond, a triangle) is a broadcast VALUES table. Scale: points x
    edges is a broadcast nested-loop against a kilobyte edge table (13
    edges) — one map-side pass, the parity groupBy keys on
    (event_id, polygon) and combines map-side; for polygon sets too big
    to broadcast you'd grid-partition edges by cell exactly as
    ext_grid_spatial_join buckets points."""
    e = load_table(spark, sf_dir, "events")

    def coord(prefix: str):
        h = F.md5(
            F.concat(F.lit(prefix + ":"), F.col("event_id").cast("string"))
        )
        return (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")) % 100000

    pts = e.select(
        "event_id", coord("x").alias("xi"), coord("y").alias("yi")
    )
    edges = spark.createDataFrame(
        _pip_edges(),
        "pid int, k int, x1 bigint, y1 bigint, x2 bigint, y2 bigint",
    )
    straddle = (F.col("y1") > F.col("yi")) != (F.col("y2") > F.col("yi"))
    lhs = (F.col("xi") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    rhs = (F.col("yi") - F.col("y1")) * (F.col("x2") - F.col("x1"))
    left_of = F.when(F.col("y2") - F.col("y1") > 0, lhs < rhs).otherwise(
        lhs > rhs
    )
    c = F.when(straddle & left_of, 1).otherwise(0)
    inside = (
        pts.crossJoin(F.broadcast(edges))
        .select("event_id", "xi", "yi", "pid", c.alias("c"))
        .groupBy("event_id", "xi", "yi", "pid")
        .agg((F.sum("c") % 2).alias("par"))
    )
    return (
        inside.groupBy(F.col("pid").alias("polygon_id"))
        .agg(
            F.sum("par").cast("bigint").alias("n_inside"),
            F.sum(F.when(F.col("par") == 1, F.col("event_id")).otherwise(0))
            .cast("bigint")
            .alias("id_checksum"),
            F.sum(
                F.when(F.col("par") == 1, F.col("xi") + F.col("yi")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("coord_checksum"),
        )
        .orderBy("polygon_id")
    )


def _hilbert_oracle() -> str:
    """Generate the unrolled 5-stage Hilbert xy2d CTE ladder (32x32
    grid, Wikipedia/Warren algorithm) plus the run-count comparison."""
    stages = []
    prev = "g0"
    for i, s in enumerate((16, 8, 4, 2, 1)):
        rx = f"(CASE WHEN (x{i} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y{i} & {s}) > 0 THEN 1 ELSE 0 END)"
        stages.append(f"""
h{i} AS (
  SELECT cell_x, cell_y,
         CASE WHEN (y{i} & {s}) > 0 THEN x{i}
              WHEN (x{i} & {s}) > 0 THEN 31 - y{i}
              ELSE y{i} END AS x{i + 1},
         CASE WHEN (y{i} & {s}) > 0 THEN y{i}
              WHEN (x{i} & {s}) > 0 THEN 31 - x{i}
              ELSE x{i} END AS y{i + 1},
         d{i} + {s * s} * xor(3 * {rx}, {ry}) AS d{i + 1}
  FROM {prev})""")
        prev = f"h{i}"
    zbits = " + ".join(
        f"((cell_x >> {i}) & 1) * {1 << (2 * i)}"
        f" + ((cell_y >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(5)
    )
    return f"""
WITH g0 AS (
  SELECT i // 32 AS cell_x, i % 32 AS cell_y,
         i // 32 AS x0, i % 32 AS y0, 0 AS d0
  FROM (SELECT UNNEST(range(1024)) AS i)
),{",".join(stages)},
curve AS (
  SELECT cell_x, cell_y, CAST(d5 AS BIGINT) AS hd,
         CAST({zbits} AS BIGINT) AS zd
  FROM h4
),
walk AS (
  SELECT cell_x, cell_y, hd,
         lag(cell_x) OVER (ORDER BY hd) AS px,
         lag(cell_y) OVER (ORDER BY hd) AS py
  FROM curve
),
adj AS (
  SELECT CAST(SUM(CASE WHEN ABS(cell_x - px) + ABS(cell_y - py) = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS adjacent_steps
  FROM walk WHERE px IS NOT NULL
),
box AS (
  SELECT hd, zd FROM curve
  WHERE cell_x BETWEEN 5 AND 20 AND cell_y BETWEEN 9 AND 24
),
hruns AS (
  SELECT CAST(1 + SUM(CASE WHEN hd - phd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS hilbert_runs
  FROM (SELECT hd, lag(hd) OVER (ORDER BY hd) AS phd FROM box)
  WHERE phd IS NOT NULL
),
zruns AS (
  SELECT CAST(1 + SUM(CASE WHEN zd - pzd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS morton_runs
  FROM (SELECT zd, lag(zd) OVER (ORDER BY zd) AS pzd FROM box)
  WHERE pzd IS NOT NULL
),
occ AS (
  SELECT DISTINCT (p_size % 32) AS cell_x,
         CAST(FLOOR((p_retailprice - 900.0) / 34.0) AS INTEGER) % 32
           AS cell_y
  FROM part
),
occ_box AS (
  SELECT c.hd, c.zd FROM occ o JOIN curve c USING (cell_x, cell_y)
  WHERE o.cell_x BETWEEN 5 AND 20 AND o.cell_y BETWEEN 9 AND 24
),
ohruns AS (
  SELECT CAST(COALESCE(1 + SUM(CASE WHEN hd - phd > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS occ_hilbert_runs
  FROM (SELECT hd, lag(hd) OVER (ORDER BY hd) AS phd FROM occ_box)
  WHERE phd IS NOT NULL
),
ozruns AS (
  SELECT CAST(COALESCE(1 + SUM(CASE WHEN zd - pzd > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS occ_morton_runs
  FROM (SELECT zd, lag(zd) OVER (ORDER BY zd) AS pzd FROM occ_box)
  WHERE pzd IS NOT NULL
),
card AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(COUNT(DISTINCT hd) AS BIGINT) AS n_distinct_d
  FROM curve
),
occn AS (SELECT CAST(COUNT(*) AS BIGINT) AS occ_box_cells FROM occ_box)
SELECT card.n_cells, card.n_distinct_d, adj.adjacent_steps,
       hruns.hilbert_runs, zruns.morton_runs,
       hruns.hilbert_runs < zruns.morton_runs AS hilbert_tighter,
       occn.occ_box_cells, ohruns.occ_hilbert_runs, ozruns.occ_morton_runs
FROM card, adj, hruns, zruns, occn, ohruns, ozruns
"""


@register(
    "ext_hilbert_clustering",
    survey_id="EXT-HILBERT",
    category="scale-pattern",
    oracle=_hilbert_oracle(),
)
def ext_hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key — the locality upgrade over Z-order
    that Delta's OPTIMIZE moved to: the space-filling curve whose
    consecutive cells are always GRID NEIGHBORS (proven in-query: all
    1023 steps of the 32x32 curve have Manhattan distance exactly 1 —
    Morton order teleports at every power-of-2 boundary), so an
    UNALIGNED 2-D box query touches far fewer contiguous key ranges =
    far fewer files. The xy2d transform (Warren, Hacker's Delight /
    the standard quadrant-rotation recurrence) is unrolled into 5
    integer bit-op stages — exact in any engine, no floats — and the
    query pins the locality win: the 16x16 box at offset (5,9) splits
    into 22 Hilbert runs vs 46 Morton runs (a file-count proxy:
    2x fewer seeks under range-partitioned layout), plus the same
    comparison over the cells actually OCCUPIED by the part table
    (p_size x price-bucket), tying the curve to real data. Bijectivity
    (1024 distinct keys) is asserted by the n_distinct_d column.
    Scale: the key is pure codegen arithmetic per row at write time,
    identical in cost to EXT-ZORDER's interleave; the windows here
    ride the fixed 1024-cell codebook spine, never the fact table."""
    spine = spark.range(1024).select(
        (F.col("id") / 32).cast("int").alias("cell_x"),
        (F.col("id") % 32).cast("int").alias("cell_y"),
    )
    x, y, d = F.col("cell_x"), F.col("cell_y"), F.lit(0)
    for s in (16, 8, 4, 2, 1):
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        d = d + F.lit(s * s) * (rx * 3).bitwiseXOR(ry)
        nx = (
            F.when(y.bitwiseAND(F.lit(s)) > 0, x)
            .when(x.bitwiseAND(F.lit(s)) > 0, F.lit(31) - y)
            .otherwise(y)
        )
        ny = (
            F.when(y.bitwiseAND(F.lit(s)) > 0, y)
            .when(x.bitwiseAND(F.lit(s)) > 0, F.lit(31) - x)
            .otherwise(x)
        )
        x, y = nx, ny
    zd = sum(
        [
            F.shiftright(F.col("cell_x"), i).bitwiseAND(F.lit(1))
            * (1 << (2 * i))
            for i in range(5)
        ]
        + [
            F.shiftright(F.col("cell_y"), i).bitwiseAND(F.lit(1))
            * (1 << (2 * i + 1))
            for i in range(5)
        ],
        start=F.lit(0),
    )
    curve = pin(spine.select(
        "cell_x",
        "cell_y",
        d.cast("bigint").alias("hd"),
        zd.cast("bigint").alias("zd"),
    ))
    w = Window.orderBy("hd")
    walk = curve.select(
        "cell_x",
        "cell_y",
        "hd",
        F.lag("cell_x").over(w).alias("px"),
        F.lag("cell_y").over(w).alias("py"),
    )
    adj = walk.where(F.col("px").isNotNull()).agg(
        F.sum(
            F.when(
                F.abs(F.col("cell_x") - F.col("px"))
                + F.abs(F.col("cell_y") - F.col("py"))
                == 1,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("adjacent_steps")
    )
    box = curve.where(
        F.col("cell_x").between(5, 20) & F.col("cell_y").between(9, 24)
    )

    def runs(df: DataFrame, key: str, out: str) -> DataFrame:
        wk = Window.orderBy(key)
        return (
            df.select(key, F.lag(key).over(wk).alias("pk"))
            .where(F.col("pk").isNotNull())
            .agg(
                (
                    F.lit(1)
                    + F.sum(
                        F.when(F.col(key) - F.col("pk") > 1, 1).otherwise(0)
                    )
                )
                .cast("bigint")
                .alias(out)
            )
        )

    hruns = runs(box, "hd", "hilbert_runs")
    zruns = runs(box, "zd", "morton_runs")
    occ = (
        load_table(spark, sf_dir, "part")
        .select(
            (F.col("p_size") % 32).alias("cell_x"),
            (
                F.floor((F.col("p_retailprice") - 900.0) / 34.0).cast("int")
                % 32
            ).alias("cell_y"),
        )
        .distinct()
    )
    occ_box = occ.where(
        F.col("cell_x").between(5, 20) & F.col("cell_y").between(9, 24)
    ).join(curve, ["cell_x", "cell_y"])

    def runs0(df: DataFrame, key: str, out: str) -> DataFrame:
        wk = Window.orderBy(key)
        return (
            df.select(key, F.lag(key).over(wk).alias("pk"))
            .where(F.col("pk").isNotNull())
            .agg(
                F.coalesce(
                    F.lit(1)
                    + F.sum(
                        F.when(F.col(key) - F.col("pk") > 1, 1).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias(out)
            )
        )

    ohruns = runs0(occ_box, "hd", "occ_hilbert_runs")
    ozruns = runs0(occ_box, "zd", "occ_morton_runs")
    card = curve.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.countDistinct("hd").cast("bigint").alias("n_distinct_d"),
    )
    occn = occ_box.agg(F.count("*").cast("bigint").alias("occ_box_cells"))
    return (
        card.crossJoin(F.broadcast(adj))
        .crossJoin(F.broadcast(hruns))
        .crossJoin(F.broadcast(zruns))
        .select(
            "n_cells",
            "n_distinct_d",
            "adjacent_steps",
            "hilbert_runs",
            "morton_runs",
            (F.col("hilbert_runs") < F.col("morton_runs")).alias(
                "hilbert_tighter"
            ),
        )
        .crossJoin(F.broadcast(occn))
        .crossJoin(F.broadcast(ohruns))
        .crossJoin(F.broadcast(ozruns))
    )


def _dbscan_oracle() -> str:
    rounds = []
    prev = "l0"
    for k in range(3):
        cur = f"l{k + 1}"
        rounds.append(f"""
{cur} AS (
  SELECT l.node, LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN core_edges e ON e.dst = l.node
  LEFT JOIN {prev} n ON n.node = e.src
  GROUP BY l.node, l.label)""")
        prev = cur
    return f"""
WITH pts AS (
  SELECT event_id,
         CASE WHEN event_id % 67 < 2 THEN
           (CASE event_id % 5 WHEN 0 THEN 10000 WHEN 1 THEN 30000
                 WHEN 2 THEN 50000 WHEN 3 THEN 70000 ELSE 90000 END)
           + CAST(('0x' || substr(md5('x:' || event_id), 1, 12)) AS BIGINT)
             % 300
         ELSE CAST(('0x' || substr(md5('x:' || event_id), 1, 12)) AS BIGINT)
              % 100000 END AS xi,
         CASE WHEN event_id % 67 < 2 THEN
           (CASE event_id % 5 WHEN 0 THEN 10000 WHEN 1 THEN 70000
                 WHEN 2 THEN 20000 WHEN 3 THEN 80000 ELSE 30000 END)
           + CAST(('0x' || substr(md5('y:' || event_id), 1, 12)) AS BIGINT)
             % 300
         ELSE CAST(('0x' || substr(md5('y:' || event_id), 1, 12)) AS BIGINT)
              % 100000 END AS yi
  FROM events
  WHERE event_id % 67 < 2 OR event_id % 31 = 0
),
cells AS (SELECT event_id, xi, yi, xi // 500 AS cx, yi // 500 AS cy FROM pts),
offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                               (1,-1),(1,0),(1,1)) o(dx, dy)),
nbr AS (
  SELECT a.event_id AS a_id, b.event_id AS b_id
  FROM cells a CROSS JOIN offs
  JOIN cells b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
  WHERE (a.xi - b.xi) * (a.xi - b.xi)
        + (a.yi - b.yi) * (a.yi - b.yi) <= 250000
),
deg AS (SELECT a_id AS event_id, COUNT(*) AS n_nbr FROM nbr GROUP BY a_id),
core AS (SELECT event_id FROM deg WHERE n_nbr >= 4),
core_edges AS (
  SELECT n.a_id AS src, n.b_id AS dst FROM nbr n
  JOIN core c1 ON c1.event_id = n.a_id
  JOIN core c2 ON c2.event_id = n.b_id
  WHERE n.a_id <> n.b_id
),
l0 AS (SELECT event_id AS node, event_id AS label FROM core),{",".join(rounds)},
border AS (
  SELECT n.a_id AS node, MIN(l.label) AS label
  FROM nbr n
  JOIN l3 l ON l.node = n.b_id
  WHERE n.a_id NOT IN (SELECT event_id FROM core)
  GROUP BY n.a_id
),
stats AS (
  SELECT label AS cluster_label,
         CAST(COUNT(*) AS BIGINT) AS n_core,
         CAST(0 AS BIGINT) AS n_border
  FROM l3 GROUP BY label
),
bstats AS (
  SELECT label AS cluster_label, CAST(COUNT(*) AS BIGINT) AS n_border
  FROM border GROUP BY label
),
clusters AS (
  SELECT s.cluster_label, s.n_core,
         COALESCE(b.n_border, 0) AS n_border,
         s.n_core + COALESCE(b.n_border, 0) AS cluster_total
  FROM stats s LEFT JOIN bstats b USING (cluster_label)
),
tot AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) AS n_points,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) -
         (SELECT CAST(COUNT(*) AS BIGINT) FROM l3) -
         (SELECT CAST(COUNT(*) AS BIGINT) FROM border) AS n_noise
)
SELECT c.cluster_label, c.n_core, c.n_border, c.cluster_total,
       t.n_noise, t.n_points
FROM clusters c CROSS JOIN tot t
ORDER BY c.cluster_total DESC, c.cluster_label LIMIT 10
"""


def _dbscan_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DBSCAN fixture: 5 planted dense clusters (every 67th/68th
    event, 300x300 boxes) over a thin md5 background scatter (every
    31st of the rest). Integer md5-derived coordinates."""
    e = load_table(spark, sf_dir, "events").where(
        (F.col("event_id") % 67 < 2) | (F.col("event_id") % 31 == 0)
    )

    def h(prefix: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix + ":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")

    cx_centers = [10000, 30000, 50000, 70000, 90000]
    cy_centers = [10000, 70000, 20000, 80000, 30000]

    def center(values):
        expr = F.lit(values[-1])
        for k in range(3, -1, -1):
            expr = F.when(F.col("event_id") % 5 == k, values[k]).otherwise(
                expr
            )
        return expr

    planted = F.col("event_id") % 67 < 2
    return pin(e.select(
        "event_id",
        F.when(planted, center(cx_centers) + h("x") % 300)
        .otherwise(h("x") % 100000)
        .alias("xi"),
        F.when(planted, center(cy_centers) + h("y") % 300)
        .otherwise(h("y") % 100000)
        .alias("yi"),
    ))


def _dbscan_capped(
    spark: SparkSession,
    pts: DataFrame,
    eps2: int,
    wcell: int,
    eps2_used: bool = False,
) -> DataFrame:
    """CLUSTER-MASS-CAPPED exact DBSCAN (r9 verdict #3): identical
    output to the all-pairs neighbor-graph formulation — the oracles
    are UNCHANGED — but the Theta(|cluster|^2) pair materialization is
    gone. The device is the dense-SUB-CELL clique certificate: with
    sub-cell side ws chosen so 2*ws^2 <= eps2, any two points sharing
    a sub-cell are provably within eps, so

    - every point of a sub-cell holding >= minPts points is a CORE
      point by pigeonhole (its same-cell rows alone reach the degree
      threshold) — no degree counting, no pairs;
    - a dense sub-cell is a CLIQUE, so one 3-round min-label step
      "min over my in-neighbors' labels" collapses, for the
      within-cell part, to the per-cell MIN of current labels — a
      groupBy, not |cell|^2 edge rows;
    - between two dense sub-cells, the pair bounding boxes decide:
      bbox-min-dist^2 > eps2 => no edges at all; bbox-max-dist^2 <=
      eps2 => EVERY cross pair is an edge, so cell B's contribution to
      every member of A is just min(label over B) — again per-cell.
      Only the AMBIGUOUS band (min <= eps2 < max) pays point-level
      pairs — the df-cap relief valve's residual, empty for the
      planted fixture (a cluster's sub-cells sit inside one 300-box,
      diameter 424 <= eps, all certified) and geometrically thin in
      general (a ring of width <eps around each dense cell).

    Sparse-cell points (cell count < minPts) keep the original 3x3
    wcell-stencil join for their degrees / edges / border adoption —
    but the PROBE side is sparse-only, so a dense cluster's mass never
    multiplies against itself; it appears only on the build side of
    thin-background probes. Label propagation runs the same 3 unrolled
    least/neighbor-min rounds over (per-cell mins + certified-cell
    mins + explicit point-level edges), which is round-for-round equal
    to the original prop on the full neighbor graph — self-inclusion
    in a cell min is harmless under LEAST(own, prop)."""
    import math

    ws = max(1, math.isqrt(eps2 // 2))
    K = math.isqrt(eps2) // ws + 1
    while (K * ws) * (K * ws) <= eps2:
        K += 1
    # micro-cell side for the certificate refinement level: ~eps/16.
    # The ambiguous band is the annulus of cell pairs whose bbox spread
    # straddles eps; its point-pair mass scales LINEARLY with the cell
    # side (width ~ 2*sqrt(2)*side), while the cell-pair test volume
    # grows ~ 1/side^3 — eps/16 balances the two (measured at the
    # adaptive sf1 rung: 62M point tests at ws/2 -> 11.5M at eps/16,
    # with 0.5M cell-pair tests).
    ws2 = max(1, math.isqrt(eps2) // 16)

    sub = pts.select(
        F.col("event_id").alias("node"),
        "xi",
        "yi",
        F.expr(f"xi div {ws}").alias("scx"),
        F.expr(f"yi div {ws}").alias("scy"),
        (
            F.expr(f"xi div {ws2}") * F.lit(1_000_000)
            + F.expr(f"yi div {ws2}")
        ).alias("mid"),
    )
    subagg = pin(
        sub.groupBy("scx", "scy")
        .agg(
            F.count("*").alias("cnt"),
            F.min("xi").alias("minx"),
            F.max("xi").alias("maxx"),
            F.min("yi").alias("miny"),
            F.max("yi").alias("maxy"),
        )
    )
    dense_cells = subagg.where(F.col("cnt") >= 4).select(
        (F.col("scx") * F.lit(1_000_000) + F.col("scy")).alias("cid"),
        "scx",
        "scy",
        "minx",
        "maxx",
        "miny",
        "maxy",
    )
    dmem = pin(
        sub.join(dense_cells.select("scx", "scy", "cid"), ["scx", "scy"])
        .select("node", "xi", "yi", "cid", "mid")
    )
    sparse = sub.join(
        dense_cells.select("scx", "scy"), ["scx", "scy"], "left_anti"
    ).select("node", "xi", "yi")

    # Sparse-probe stencil join on the wcell grid (build side = ALL
    # points — a sparse point's neighbors may live in dense cells).
    offs3 = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = (
        sparse.withColumn("o", F.explode(offs3)).select(
            F.col("node").alias("a_id"),
            F.col("xi").alias("ax"),
            F.col("yi").alias("ay"),
            (F.expr(f"xi div {wcell}") + F.col("o.dx")).alias("jx"),
            (F.expr(f"yi div {wcell}") + F.col("o.dy")).alias("jy"),
        )
    )
    build = pts.select(
        F.col("event_id").alias("b_id"),
        F.col("xi").alias("bx"),
        F.col("yi").alias("by"),
        F.expr(f"xi div {wcell}").alias("jx"),
        F.expr(f"yi div {wcell}").alias("jy"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pr = pin(
        probe.join(build, ["jx", "jy"])
        .where(d2 <= F.lit(eps2))
        .select("a_id", "b_id")
    )
    deg = pr.groupBy(F.col("a_id").alias("node")).agg(
        F.count("*").alias("n_nbr")
    )
    score = pin(deg.where(F.col("n_nbr") >= 4).select("node"))
    core_nodes = dmem.select("node").unionByName(score)

    # Dense-cell adjacency via a (2K+1)^2 sub-cell stencil + bbox
    # certificates; only the ambiguous band pays point-level pairs.
    offsK = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-K, K + 1)
            for dy in range(-K, K + 1)
        ]
    )
    da = dense_cells.withColumn("o", F.explode(offsK)).select(
        F.col("cid").alias("cid_a"),
        F.col("minx").alias("aminx"),
        F.col("maxx").alias("amaxx"),
        F.col("miny").alias("aminy"),
        F.col("maxy").alias("amaxy"),
        (F.col("scx") + F.col("o.dx")).alias("jx"),
        (F.col("scy") + F.col("o.dy")).alias("jy"),
    )
    db = dense_cells.select(
        F.col("cid").alias("cid_b"),
        F.col("minx").alias("bminx"),
        F.col("maxx").alias("bmaxx"),
        F.col("miny").alias("bminy"),
        F.col("maxy").alias("bmaxy"),
        F.col("scx").alias("jx"),
        F.col("scy").alias("jy"),
    )
    gx = F.greatest(
        F.lit(0),
        F.col("bminx") - F.col("amaxx"),
        F.col("aminx") - F.col("bmaxx"),
    )
    gy = F.greatest(
        F.lit(0),
        F.col("bminy") - F.col("amaxy"),
        F.col("aminy") - F.col("bmaxy"),
    )
    mx = F.greatest(
        F.col("bmaxx") - F.col("aminx"), F.col("amaxx") - F.col("bminx")
    )
    my = F.greatest(
        F.col("bmaxy") - F.col("aminy"), F.col("amaxy") - F.col("bminy")
    )
    cand = pin(
        da.join(db, ["jx", "jy"])
        .where(F.col("cid_a") != F.col("cid_b"))
        .select(
            "cid_a",
            "cid_b",
            (gx * gx + gy * gy).alias("mind2"),
            (mx * mx + my * my).alias("maxd2"),
        )
        .where(F.col("mind2") <= F.lit(eps2))
    )
    cert = cand.where(F.col("maxd2") <= F.lit(eps2)).select("cid_a", "cid_b")
    amb = cand.where(F.col("maxd2") > F.lit(eps2)).select("cid_a", "cid_b")
    # MICRO-CELL REFINEMENT of the ambiguous band (one level, side
    # ws/2): when eps is smaller than a dense cluster's extent (the
    # adaptive-eps variant at large n), whole cluster cell-pairs land
    # in the ambiguous band and the point-level valve degenerates to
    # |A|x|B|. Re-running the same bbox certificates on the 4x4 micro
    # split converts the interior back to per-micro-cell MIN
    # contributions; only the residual ambiguous RING of micro pairs
    # pays point-level work (measured: adaptive sf1 wall 209s -> the
    # ladder row, e_dd from ~60M rows to the ring).
    m2 = pin(
        dmem.groupBy("cid", "mid")
        .agg(
            F.min("xi").alias("minx"),
            F.max("xi").alias("maxx"),
            F.min("yi").alias("miny"),
            F.max("yi").alias("maxy"),
        )
    )
    # The micro-cell grid (side ws2) does NOT align with the dense-cell
    # grid (side ws), so one micro cell can straddle two dense cells;
    # m2's bboxes are per (cid, mid) PARTIAL boxes. Every consumer must
    # therefore key on the composite (cid, mid) — keying on the global
    # mid alone would let a certificate proven from one cell's partial
    # bbox apply to same-mid members of OTHER cells (points up to
    # ~2*sqrt(2)*ws2 beyond eps), silently merging clusters the exact
    # oracle keeps separate (r10 ADVICE, high).
    m2a = m2.select(
        F.col("cid").alias("cid_a"),
        F.col("mid").alias("mid_a"),
        F.col("minx").alias("aminx"),
        F.col("maxx").alias("amaxx"),
        F.col("miny").alias("aminy"),
        F.col("maxy").alias("amaxy"),
    )
    m2b = m2.select(
        F.col("cid").alias("cid_b"),
        F.col("mid").alias("mid_b"),
        F.col("minx").alias("bminx"),
        F.col("maxx").alias("bmaxx"),
        F.col("miny").alias("bminy"),
        F.col("maxy").alias("bmaxy"),
    )
    cand2 = pin(
        amb.join(m2a, "cid_a")
        .join(m2b, "cid_b")
        .select(
            "cid_a",
            "mid_a",
            "cid_b",
            "mid_b",
            (gx * gx + gy * gy).alias("mind2"),
            (mx * mx + my * my).alias("maxd2"),
        )
        .where(F.col("mind2") <= F.lit(eps2))
    )
    cert2 = cand2.where(F.col("maxd2") <= F.lit(eps2)).select(
        "cid_a", "mid_a", "cid_b", "mid_b"
    )
    amb2 = cand2.where(F.col("maxd2") > F.lit(eps2)).select(
        "cid_a", "mid_a", "cid_b", "mid_b"
    )
    ma = dmem.select(
        F.col("cid").alias("cid_a"),
        F.col("mid").alias("mid_a"),
        F.col("node").alias("na"),
        F.col("xi").alias("ax"),
        F.col("yi").alias("ay"),
    )
    mb = dmem.select(
        F.col("cid").alias("cid_b"),
        F.col("mid").alias("mid_b"),
        F.col("node").alias("nb"),
        F.col("xi").alias("bx"),
        F.col("yi").alias("by"),
    )
    e_dd = pin(
        amb2.join(ma, ["cid_a", "mid_a"])
        .join(mb, ["cid_b", "mid_b"])
        .where(d2 <= F.lit(eps2))
        .select(F.col("na").alias("src"), F.col("nb").alias("dst"))
    )
    pr_core = pr.join(
        score.select(F.col("node").alias("a_id")), "a_id", "left_semi"
    ).join(
        core_nodes.select(F.col("node").alias("b_id")), "b_id", "left_semi"
    ).where(F.col("a_id") != F.col("b_id"))
    # e_dd is disjoint from the sparse-core edges (dense-dense vs
    # sparse endpoints) and duplicate-free by construction, so it stays
    # OUT of the distinct and feeds its own per-round min — the 62M-row
    # global distinct + pinned cache was the sf1 OOM.
    e_pt = pin(
        pr_core.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        )
        .unionByName(
            pr_core.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst")
            )
        )
        .distinct()
    )

    labels = core_nodes.select("node", F.col("node").alias("label"))
    for _ in range(3):
        lmem = dmem.select("node", "cid").join(labels, "node")
        cellmin = lmem.groupBy("cid").agg(F.min("label").alias("cmin"))
        c1 = (
            dmem.select("node", "cid")
            .join(cellmin, "cid")
            .select("node", F.col("cmin").alias("m"))
        )
        certmin = (
            cert.join(
                cellmin.select(F.col("cid").alias("cid_b"), "cmin"), "cid_b"
            )
            .groupBy(F.col("cid_a").alias("cid"))
            .agg(F.min("cmin").alias("bmin"))
        )
        c2 = (
            dmem.select("node", "cid")
            .join(certmin, "cid")
            .select("node", F.col("bmin").alias("m"))
        )
        # micro-level certified contributions (the refinement band);
        # keyed by (cid, mid) so a certificate only applies to the
        # membership whose partial bbox it was proven from.
        micromin = (
            dmem.select("node", "cid", "mid")
            .join(labels, "node")
            .groupBy("cid", "mid")
            .agg(F.min("label").alias("mmin"))
        )
        cert2min = (
            cert2.join(
                micromin.select(
                    F.col("cid").alias("cid_b"),
                    F.col("mid").alias("mid_b"),
                    "mmin",
                ),
                ["cid_b", "mid_b"],
            )
            .groupBy(
                F.col("cid_a").alias("cid"), F.col("mid_a").alias("mid")
            )
            .agg(F.min("mmin").alias("m2min"))
        )
        c2b = (
            dmem.select("node", "cid", "mid")
            .join(cert2min, ["cid", "mid"])
            .select("node", F.col("m2min").alias("m"))
        )
        c3 = (
            e_pt.join(
                labels.select(F.col("node").alias("src"), "label"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("m"))
        )
        c3b = (
            e_dd.join(
                labels.select(F.col("node").alias("src"), "label"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("m"))
        )
        pm = (
            c1.unionByName(c2)
            .unionByName(c2b)
            .unionByName(c3)
            .unionByName(c3b)
            .groupBy("node")
            .agg(F.min("m").alias("plabel"))
        )
        labels = pin(
            labels.join(pm, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("plabel"), F.col("label")),
                ).alias("label"),
            )
        )
    border = (
        pr.join(
            score.select(F.col("node").alias("a_id")), "a_id", "left_anti"
        )
        .join(
            labels.select(F.col("node").alias("b_id"), "label"), "b_id"
        )
        .groupBy(F.col("a_id").alias("node"))
        .agg(F.min("label").alias("label"))
    )
    stats = labels.groupBy(F.col("label").alias("cluster_label")).agg(
        F.count("*").cast("bigint").alias("n_core")
    )
    bstats = border.groupBy(F.col("label").alias("cluster_label")).agg(
        F.count("*").cast("bigint").alias("n_border")
    )
    clusters = stats.join(bstats, "cluster_label", "left").select(
        "cluster_label",
        "n_core",
        F.coalesce("n_border", F.lit(0)).cast("bigint").alias("n_border"),
        (F.col("n_core") + F.coalesce("n_border", F.lit(0)))
        .cast("bigint")
        .alias("cluster_total"),
    )
    n_points = pts.agg(F.count("*").cast("bigint").alias("n_points"))
    n_core_t = labels.agg(F.count("*").cast("bigint").alias("nc"))
    n_border_t = border.agg(F.count("*").cast("bigint").alias("nb"))
    tot = (
        n_points.crossJoin(F.broadcast(n_core_t))
        .crossJoin(F.broadcast(n_border_t))
        .select(
            "n_points",
            (F.col("n_points") - F.col("nc") - F.col("nb"))
            .cast("bigint")
            .alias("n_noise"),
        )
    )
    out_cols = [
        "cluster_label",
        "n_core",
        "n_border",
        "cluster_total",
        "n_noise",
        "n_points",
    ]
    if eps2_used:
        tot = tot.withColumn(
            "eps2_used", F.lit(eps2).cast("bigint")
        )
        out_cols.append("eps2_used")
    return (
        clusters.crossJoin(F.broadcast(tot))
        .select(*out_cols)
        .orderBy(F.col("cluster_total").desc(), "cluster_label")
        .limit(10)
    )


@register(
    "ext_dbscan_grid",
    survey_id="EXT-DBSCAN",
    category="scale-pattern",
    oracle=_dbscan_oracle(),
)
def ext_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-accelerated DBSCAN (eps=500, minPts=4): the density
    clustering recipe every spatial/embedding pipeline reaches for.
    Core points by degree over a never-all-pairs stencil join, core
    clusters via BOUNDED (3-round) min-label propagation, border
    points adopt the min neighboring core's label, the rest is noise.
    The planted 5-cluster fixture (300x300 boxes, diameter 424 < eps
    => cliques converging in round 1) stays detected at every sf.

    r9 verdict #3: the execution is now _dbscan_capped — the dense-
    sub-cell clique-certificate formulation that removes the
    Theta(|cluster|^2) pair materialization while computing the
    IDENTICAL result (the oracle still replays the plain all-pairs
    neighbor-graph 3-round unroll; see _dbscan_capped's proof
    docstring). Integer-squared distances, md5 coordinates —
    bit-exact everywhere."""
    pts = _dbscan_pts(spark, sf_dir)
    return _dbscan_capped(spark, pts, eps2=250_000, wcell=500)

def _critpath_oracle() -> str:
    rounds = []
    prev = "l0"
    for k in range(1, 6):
        rounds.append(f"""
d{k} AS (
  SELECT e.v AS node, MAX(p.dist + e.w) AS dist
  FROM {prev} p JOIN edges e ON e.u = p.node GROUP BY e.v
),
l{k} AS (
  SELECT d.node, d.dist, CAST(SUM(p.paths) AS BIGINT) AS paths
  FROM d{k} d
  JOIN edges e ON e.v = d.node
  JOIN {prev} p ON p.node = e.u
  WHERE p.dist + e.w = d.dist
  GROUP BY d.node, d.dist)""")
        prev = f"l{k}"
    return f"""
WITH nodes AS (SELECT UNNEST(range(150)) AS n),
edges AS (
  SELECT u.n AS u, v.n AS v,
         1 + CAST(('0x' || substr(md5('w:' || u.n || ':' || v.n), 1, 12))
                  AS BIGINT) % 100 AS w
  FROM nodes u JOIN nodes v ON v.n // 25 = u.n // 25 + 1
  WHERE CAST(('0x' || substr(md5(u.n || ':' || v.n), 1, 12)) AS BIGINT)
        % 7 = 0
),
l0 AS (
  SELECT n AS node, CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS paths
  FROM nodes WHERE n < 25
),{",".join(rounds)},
all_l AS (
  SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL
  SELECT * FROM l2 UNION ALL SELECT * FROM l3 UNION ALL
  SELECT * FROM l4 UNION ALL SELECT * FROM l5
),
final AS (
  SELECT node // 25 AS layer, dist, paths,
         MAX(dist) OVER (PARTITION BY node // 25) AS layer_max
  FROM all_l
)
SELECT layer,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(MAX(dist) AS BIGINT) AS max_dist,
       CAST(SUM(CASE WHEN dist = layer_max THEN paths ELSE 0 END)
            AS BIGINT) AS n_paths_at_max,
       CAST(SUM(dist) AS BIGINT) AS dist_checksum
FROM final GROUP BY layer ORDER BY layer
"""


@register(
    "ext_critical_path",
    survey_id="EXT-CRITPATH",
    category="scale-pattern",
    oracle=_critpath_oracle(),
)
def ext_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Critical-path analysis on a layered task DAG — longest path AND
    the count of distinct critical paths, by max-plus label propagation
    (the scheduling dual of ext_bfs_shortest_paths' min-plus): a 6-layer
    150-node DAG with md5-gated edges and md5 integer weights (the same
    portable-hash spine the graph family shares) propagates
    (distance, path-count) labels layer by layer — dist(v) = max over
    in-edges of dist(u)+w, paths(v) = sum of paths(u) over the argmax
    edges — and because the DAG is LAYERED, exactly depth rounds reach
    the fixpoint: the bounded iteration is provably the exact answer,
    not a truncation (contrast LPA's declared-rounds semantics). All
    integer; path counts are exact BIGINTs. Per-layer reach counts,
    critical length, number of optimal paths, and a distance checksum.
    Scale: each round is one keyed join + two keyed aggregates over the
    edge list — O(E) per round, E rounds = depth, the PERT/critical-
    path shape at any graph size."""
    nodes = spark.range(150).select(F.col("id").cast("int").alias("n"))
    u = nodes.select(F.col("n").alias("u"))
    v = nodes.select(F.col("n").alias("v"))
    gate = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("u"), F.col("v"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 7
        == 0
    )
    w = 1 + F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("w:"), F.concat_ws(":", F.col("u"), F.col("v"))
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint") % 100
    edges = pin(
        u.join(v, F.expr("v div 25") == F.expr("u div 25") + 1)
        .where(gate)
        .select("u", "v", w.alias("w"))
    )
    labels = nodes.where(F.col("n") < 25).select(
        F.col("n").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
        F.lit(1).cast("bigint").alias("paths"),
    )
    labels = pin(labels)
    all_l = labels
    for _ in range(5):
        prev = labels.select(
            F.col("node").alias("p_node"),
            F.col("dist").alias("p_dist"),
            F.col("paths").alias("p_paths"),
        )
        dk = (
            prev.join(edges, F.col("p_node") == F.col("u"))
            .groupBy(F.col("v").alias("d_node"))
            .agg(F.max(F.col("p_dist") + F.col("w")).alias("d_dist"))
        )
        labels = pin(
            dk.join(edges, F.col("v") == F.col("d_node"))
            .join(prev, F.col("p_node") == F.col("u"))
            .where(F.col("p_dist") + F.col("w") == F.col("d_dist"))
            .groupBy(
                F.col("d_node").alias("node"),
                F.col("d_dist").alias("dist"),
            )
            .agg(F.sum("p_paths").cast("bigint").alias("paths"))
        )
        all_l = all_l.unionByName(labels)
    w_layer = Window.partitionBy(F.expr("node div 25"))
    return (
        all_l.withColumn("layer_max", F.max("dist").over(w_layer))
        .groupBy(F.expr("node div 25").alias("layer"))
        .agg(
            F.count("*").cast("bigint").alias("n_reached"),
            F.max("dist").cast("bigint").alias("max_dist"),
            F.sum(
                F.when(
                    F.col("dist") == F.col("layer_max"), F.col("paths")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_paths_at_max"),
            F.sum("dist").cast("bigint").alias("dist_checksum"),
        )
        .orderBy("layer")
    )


@register(
    "ext_polygon_measures",
    survey_id="EXT-SHOELACE",
    category="scale-pattern",
    oracle=f"""
WITH edges AS (SELECT * FROM {_pip_edges_sql()}),
sh AS (
  SELECT pid,
         CAST(SUM(CAST(x1 AS BIGINT) * y2 - CAST(x2 AS BIGINT) * y1)
              AS BIGINT) AS shoelace_2a,
         CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CAST(x2 - x1 AS BIGINT) * (x2 - x1)
                  + CAST(y2 - y1 AS BIGINT) * (y2 - y1))
              AS BIGINT) AS perim_sq_sum
  FROM edges GROUP BY pid
),
pts AS (
  SELECT event_id,
         CAST(('0x' || substr(md5('x:' || event_id), 1, 12)) AS BIGINT)
           % 100000 AS xi,
         CAST(('0x' || substr(md5('y:' || event_id), 1, 12)) AS BIGINT)
           % 100000 AS yi
  FROM events
),
crossings AS (
  SELECT p.event_id, e.pid,
         CASE WHEN (e.y1 > p.yi) <> (e.y2 > p.yi)
               AND (CASE WHEN e.y2 - e.y1 > 0
                         THEN (p.xi - e.x1) * (e.y2 - e.y1)
                              < (p.yi - e.y1) * (e.x2 - e.x1)
                         ELSE (p.xi - e.x1) * (e.y2 - e.y1)
                              > (p.yi - e.y1) * (e.x2 - e.x1) END)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e
),
inside AS (
  SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_inside FROM (
    SELECT event_id, pid, SUM(c) % 2 AS par
    FROM crossings GROUP BY event_id, pid
  ) WHERE par = 1 GROUP BY pid
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pts FROM pts)
SELECT s.pid AS polygon_id, s.n_edges,
       ABS(s.shoelace_2a) AS area_x2,
       s.perim_sq_sum,
       COALESCE(i.n_inside, 0) AS n_inside,
       CAST(COALESCE(i.n_inside, 0) * 20000000000
            // ABS(s.shoelace_2a) AS BIGINT) AS density_x1e10_per_unit,
       t.n_pts
FROM sh s LEFT JOIN inside i ON i.pid = s.pid CROSS JOIN tot t
ORDER BY s.pid
""",
)
def ext_polygon_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon geometry measures, all-integer: the SHOELACE formula
    gives 2x the signed area as an exact BIGINT cross-product sum
    (|sum of x1*y2 - x2*y1| — zero floats, any vertex order), edge
    squared-length sums stand in for perimeter without a sqrt, and
    joining the EXT-PIP point-in-polygon counts yields exact point
    DENSITY per polygon (points * 2e10 // area_x2 = points per unit
    area on a 1e10 grid — the spatial-statistics quantity behind
    choropleths and hotspot maps). Shares EXT-PIP's broadcast edge
    table and md5 point scatter; the polygon measures reduce on the
    13-edge table, the density join broadcasts 3 rows. A correctness
    cross-check falls out for free: the L-shape's area_x2 must equal
    2x its rectangle decomposition (tested)."""
    e = load_table(spark, sf_dir, "events")
    edges = spark.createDataFrame(
        _pip_edges(),
        "pid int, k int, x1 bigint, y1 bigint, x2 bigint, y2 bigint",
    )
    sh = edges.groupBy("pid").agg(
        F.sum(
            F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1")
        )
        .cast("bigint")
        .alias("shoelace_2a"),
        F.count("*").cast("bigint").alias("n_edges"),
        F.sum(
            (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
            + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
        )
        .cast("bigint")
        .alias("perim_sq_sum"),
    )

    def coord(prefix: str):
        h = F.md5(
            F.concat(F.lit(prefix + ":"), F.col("event_id").cast("string"))
        )
        return (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")) % 100000

    pts = e.select(
        "event_id", coord("x").alias("xi"), coord("y").alias("yi")
    )
    straddle = (F.col("y1") > F.col("yi")) != (F.col("y2") > F.col("yi"))
    lhs = (F.col("xi") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    rhs = (F.col("yi") - F.col("y1")) * (F.col("x2") - F.col("x1"))
    left_of = F.when(F.col("y2") - F.col("y1") > 0, lhs < rhs).otherwise(
        lhs > rhs
    )
    c = F.when(straddle & left_of, 1).otherwise(0)
    inside = (
        pts.crossJoin(F.broadcast(edges))
        .select("event_id", "pid", c.alias("c"))
        .groupBy("event_id", "pid")
        .agg((F.sum("c") % 2).alias("par"))
        .where(F.col("par") == 1)
        .groupBy("pid")
        .agg(F.count("*").cast("bigint").alias("n_inside"))
    )
    tot = pts.agg(F.count("*").cast("bigint").alias("n_pts"))
    return (
        sh.join(inside, "pid", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pid").alias("polygon_id"),
            "n_edges",
            F.abs(F.col("shoelace_2a")).alias("area_x2"),
            "perim_sq_sum",
            F.coalesce("n_inside", F.lit(0))
            .cast("bigint")
            .alias("n_inside"),
            F.expr(
                "coalesce(n_inside, 0) * 20000000000 div abs(shoelace_2a)"
            )
            .cast("bigint")
            .alias("density_x1e10_per_unit"),
            "n_pts",
        )
        .orderBy("polygon_id")
    )


def zipf_skew_join_frames(
    spark: SparkSession, sf_dir: str, salted: bool
) -> DataFrame:
    """Shared builder for EXT-ZIPF-SKEW (query + BENCH-K22): a
    zipf(1.5)-keyed fact-dim join, optionally salted.

    Key synthesis (engine-portable, md5-seeded like EXT-WSAMPLE):
    u ~ U(0,1) from md5(l_orderkey||'-'||l_linenumber), then
    zk = least(ceil(1/(u*u)), 1000) — the inverse-CDF draw for a
    P(K=k) ∝ k^-1.5 power law (P(K>=k) = k^-0.5), capped at 1000.
    The hot key holds ~29% of all fact rows — the canonical skew that
    sinks an unsalted shuffle join at 100 TB.  1/(u*u) is pure IEEE
    divide/multiply (no pow/log), so DuckDB reproduces zk bit-exactly.

    The salted variant salts the fact with l_linenumber % 8 and fans
    the dim 8x, splitting the hot key across 8 reduce tasks; output is
    provably identical to the plain join (salting changes physics, not
    semantics — the oracle IS the unsalted join).  Both sides are
    merge-hinted: fact-dim joins this shape would broadcast at test
    scale, but BENCH-K22 measures the fact-fact SHUFFLE-join regime
    where skew actually bites (and where AQE's skew split engages —
    asserted from executed-plan metrics in tests/test_aqe_scale.py)."""
    # repartition: locally lineitem is one parquet split = ONE map
    # output, and AQE's skew split works at map-output granularity so a
    # single mapper is unsplittable (no-op at real scale, where the
    # scan's thousands of tasks provide the map outputs for free).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .transform(spread)
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(16**12))
    zk = F.least(
        F.ceil(F.lit(1.0) / (u * u)).cast("bigint"), F.lit(1000)
    )
    fact = li.select(
        zk.alias("zk"), "l_orderkey", "l_linenumber"
    )
    dim = spark.range(1, 1001).select(
        F.col("id").alias("zk"), ((F.col("id") * 7) % 100).alias("w")
    )
    if salted:
        n_salt = 8
        f2 = fact.withColumn(
            "salt", (F.col("l_linenumber") % n_salt).cast("int")
        )
        d2 = dim.withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        ).withColumnRenamed("zk", "d_zk")
        joined = f2.hint("merge").join(
            d2.hint("merge"),
            (F.col("zk") == F.col("d_zk")) & (f2["salt"] == d2["salt"]),
        )
    else:
        joined = fact.hint("merge").join(dim.hint("merge"), "zk")
    bucket = F.when(F.col("zk") <= 8, F.col("zk")).otherwise(F.lit(9))
    return (
        joined.groupBy(bucket.alias("zk_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_orderkey") + F.col("w"))
            .cast("bigint")
            .alias("sum_keyed"),
        )
        .orderBy("zk_bucket")
    )


@register(
    "ext_zipf_skew_join",
    survey_id="EXT-ZIPF-SKEW",
    category="scale-pattern",
    oracle="""
WITH fact AS (
  SELECT LEAST(CAST(CEIL(1.0 / (u * u)) AS BIGINT), 1000) AS zk,
         l_orderkey
  FROM (
    SELECT l_orderkey, l_linenumber,
           (CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                                 CAST(l_linenumber AS VARCHAR)), 1, 12))
                 AS BIGINT) + 0.5) / 281474976710656.0 AS u
    FROM lineitem
  )
),
dim AS (
  SELECT g.k AS zk, (g.k * 7) % 100 AS w
  FROM generate_series(1, 1000) AS g(k)
)
SELECT CASE WHEN f.zk <= 8 THEN f.zk ELSE 9 END AS zk_bucket,
       COUNT(*) AS n_rows,
       CAST(SUM(f.l_orderkey + d.w) AS BIGINT) AS sum_keyed
FROM fact f JOIN dim d ON f.zk = d.zk
GROUP BY 1 ORDER BY 1
""",
)
def ext_zipf_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted zipf(1.5) skew join (r4 verdict #4) — see
    :func:`zipf_skew_join_frames`.  The registered query runs the
    SALTED plan; the oracle is the plain unsalted join, so the oracle
    gate itself proves salting preserves semantics exactly.  BENCH-K22
    records salted-vs-unsalted wall times at sf0.1;
    tests/test_aqe_scale.py asserts AQE's skew-split metrics
    (numSkewedPartitions / numSkewedSplits) fire on the unsalted plan
    under production-shaped thresholds."""
    return zipf_skew_join_frames(spark, sf_dir, salted=True)


def _dbscan_adaptive_oracle() -> str:
    rounds = []
    prev = "l0"
    for k in range(3):
        cur = f"l{k + 1}"
        rounds.append(f"""
{cur} AS (
  SELECT l.node, LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN core_edges e ON e.dst = l.node
  LEFT JOIN {prev} n ON n.node = e.src
  GROUP BY l.node, l.label)""")
        prev = cur
    return f"""
WITH pts AS (
  SELECT event_id,
         CASE WHEN event_id % 67 < 2 THEN
           (CASE event_id % 5 WHEN 0 THEN 10000 WHEN 1 THEN 30000
                 WHEN 2 THEN 50000 WHEN 3 THEN 70000 ELSE 90000 END)
           + CAST(('0x' || substr(md5('x:' || event_id), 1, 12)) AS BIGINT)
             % 300
         ELSE CAST(('0x' || substr(md5('x:' || event_id), 1, 12)) AS BIGINT)
              % 100000 END AS xi,
         CASE WHEN event_id % 67 < 2 THEN
           (CASE event_id % 5 WHEN 0 THEN 10000 WHEN 1 THEN 70000
                 WHEN 2 THEN 20000 WHEN 3 THEN 80000 ELSE 30000 END)
           + CAST(('0x' || substr(md5('y:' || event_id), 1, 12)) AS BIGINT)
             % 300
         ELSE CAST(('0x' || substr(md5('y:' || event_id), 1, 12)) AS BIGINT)
              % 100000 END AS yi
  FROM events
  WHERE event_id % 67 < 2 OR event_id % 31 = 0
),
sc AS (
  SELECT COUNT(*) AS n,
         40000000000 // (8 * COUNT(*)) AS eps2,
         CAST(FLOOR(SQRT(CAST(40000000000 // (8 * COUNT(*)) AS DOUBLE)))
              AS BIGINT) + 1 AS w
  FROM pts
),
cells AS (
  SELECT p.event_id, p.xi, p.yi, p.xi // s.w AS cx, p.yi // s.w AS cy,
         s.eps2
  FROM pts p CROSS JOIN sc s
),
offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                               (1,-1),(1,0),(1,1)) o(dx, dy)),
nbr AS (
  SELECT a.event_id AS a_id, b.event_id AS b_id
  FROM cells a CROSS JOIN offs
  JOIN cells b ON b.cx = a.cx + offs.dx AND b.cy = a.cy + offs.dy
  WHERE (a.xi - b.xi) * (a.xi - b.xi)
        + (a.yi - b.yi) * (a.yi - b.yi) <= a.eps2
),
deg AS (SELECT a_id AS event_id, COUNT(*) AS n_nbr FROM nbr GROUP BY a_id),
core AS (SELECT event_id FROM deg WHERE n_nbr >= 4),
core_edges AS (
  SELECT n.a_id AS src, n.b_id AS dst FROM nbr n
  JOIN core c1 ON c1.event_id = n.a_id
  JOIN core c2 ON c2.event_id = n.b_id
  WHERE n.a_id <> n.b_id
),
l0 AS (SELECT event_id AS node, event_id AS label FROM core),{",".join(rounds)},
border AS (
  SELECT n.a_id AS node, MIN(l.label) AS label
  FROM nbr n
  JOIN l3 l ON l.node = n.b_id
  WHERE n.a_id NOT IN (SELECT event_id FROM core)
  GROUP BY n.a_id
),
stats AS (
  SELECT label AS cluster_label, CAST(COUNT(*) AS BIGINT) AS n_core
  FROM l3 GROUP BY label
),
bstats AS (
  SELECT label AS cluster_label, CAST(COUNT(*) AS BIGINT) AS n_border
  FROM border GROUP BY label
),
clusters AS (
  SELECT s.cluster_label, s.n_core,
         COALESCE(b.n_border, 0) AS n_border,
         s.n_core + COALESCE(b.n_border, 0) AS cluster_total
  FROM stats s LEFT JOIN bstats b USING (cluster_label)
),
tot AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) AS n_points,
         (SELECT eps2 FROM sc) AS eps2_used,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) -
         (SELECT CAST(COUNT(*) AS BIGINT) FROM l3) -
         (SELECT CAST(COUNT(*) AS BIGINT) FROM border) AS n_noise
)
SELECT c.cluster_label, c.n_core, c.n_border, c.cluster_total,
       t.n_noise, t.n_points, t.eps2_used
FROM clusters c CROSS JOIN tot t
ORDER BY c.cluster_total DESC, c.cluster_label LIMIT 10
"""


@register(
    "ext_dbscan_adaptive_eps",
    survey_id="EXT-DBSCAN",
    category="scale-pattern",
    oracle=_dbscan_adaptive_oracle(),
)
def ext_dbscan_adaptive_eps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSITY-ADAPTIVE DBSCAN — the measured scale path for
    EXT-DBSCAN.  The r5 shuffle-growth audit caught the fixed-eps
    variant at exponent 1.97: with eps pinned and the coordinate space
    fixed, expected neighbors per point grow ~ n and the neighbor join
    is Theta(n^2) — intrinsic to DBSCAN under densification.  The
    production lever is density-relative eps: eps^2 = minPts*AREA div
    (8*n) derived from the observed point count (expected background
    neighbors ~ pi/8 * minPts ~ 1.6 < minPts), so core points are
    density ANOMALIES at any corpus size and the stencil-join volume
    stays ~ n * O(1).  The point count crosses the driver as ONE row
    (the accepted bounded read) so eps2 / the grid widths are plan-time
    constants; the grid cell width floor(sqrt(eps2))+1 >= eps keeps
    the 3x3 stencil sound.  The same planted 5-cluster fixture stays
    detected at every sf while eps shrinks as 1/sqrt(n).

    r9 verdict #3: execution now shares _dbscan_capped (dense-sub-cell
    clique certificates — no Theta(|cluster|^2) pair materialization,
    identical output, oracle unchanged)."""
    import math

    pts = _dbscan_pts(spark, sf_dir)
    n = pts.count()
    eps2 = 40_000_000_000 // (8 * max(n, 1))
    wcell = math.isqrt(eps2) + 1
    return _dbscan_capped(spark, pts, eps2=eps2, wcell=wcell,
                          eps2_used=True)


def _hrw_pick_spark(n_shards: int):
    """Row-local HRW argmax over n_shards: fold max by (md5 hex desc,
    first-seen wins on the impossible tie — strict > both engines)."""
    def hs(s: int):
        return F.struct(
            F.md5(
                F.concat(F.lit(f"{s}:"), F.col("doc_id").cast("string"))
            ).alias("h"),
            F.lit(s).cast("bigint").alias("s"),
        )

    return F.aggregate(
        F.array(*[hs(s) for s in range(1, n_shards)]),
        hs(0),
        lambda a, x: F.when(x["h"] > a["h"], x).otherwise(a),
    )["s"]


def _hrw_sql(n_shards: int) -> str:
    return (
        "list_reduce("
        + "["
        + ", ".join(
            f"{{'h': md5('{s}:' || doc_id), 's': CAST({s} AS BIGINT)}}"
            for s in range(n_shards)
        )
        + "], (a, x) -> CASE WHEN x.h > a.h THEN x ELSE a END).s"
    )


@register(
    "ext_rendezvous_sharding",
    survey_id="EXT-HRW-SHARD",
    category="scale-pattern",
    oracle=f"""
WITH assign AS MATERIALIZED (
  SELECT doc_id,
         {_hrw_sql(8)} AS s8,
         {_hrw_sql(9)} AS s9
  FROM documents
),
flags AS MATERIALIZED (
  SELECT BOOL_AND(s8 = s9 OR s9 = 8) AS all_moves_to_new FROM assign
),
shards AS (SELECT UNNEST(generate_series(0, 8)) AS shard)
SELECT CAST(sh.shard AS BIGINT) AS shard,
       CAST(COALESCE(SUM(CASE WHEN a.s8 = sh.shard THEN 1 END), 0)
            AS BIGINT) AS n8,
       CAST(COALESCE(SUM(CASE WHEN a.s9 = sh.shard THEN 1 END), 0)
            AS BIGINT) AS n9,
       CAST(COALESCE(SUM(CASE WHEN a.s9 = sh.shard AND a.s8 <> a.s9
                              THEN 1 END), 0) AS BIGINT) AS moved_in,
       f.all_moves_to_new
FROM shards sh CROSS JOIN flags f
LEFT JOIN assign a ON a.s8 = sh.shard OR a.s9 = sh.shard
GROUP BY sh.shard, f.all_moves_to_new
ORDER BY shard
""",
)
def ext_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) SHARDING — how a 100 TB
    corpus is assigned to workers so that GROWING the fleet moves the
    theoretical minimum of data: shard(doc) = argmax over shards of
    md5(shard:doc), computed row-locally for N=8 and N=9, with the HRW
    guarantee PINNED IN-QUERY: every document whose shard changed
    moved TO the new shard 9 (all_moves_to_new — consistent hashing's
    1/(N+1) minimal-disruption property, which naive mod-N sharding
    violates for ~8/9 of the corpus).  Output per shard: populations
    at both fleet sizes and the inbound movement.

    Exactness: md5 hex-string argmax with strict-> folds (first-seen
    wins on the impossible tie) — identical literals both engines.

    Scale shape: assignment is one row-local fold per document (no
    shuffle); the output aggregate is a 9-row combinable count.  This
    is the assignment step ext_webdataset_shards' layout and the
    snapshot bucketing both assume."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    assign = pin(d.select(
        "doc_id",
        _hrw_pick_spark(8).alias("s8"),
        _hrw_pick_spark(9).alias("s9"),
    ))
    flags = F.broadcast(
        assign.agg(
            F.every(
                (F.col("s8") == F.col("s9")) | (F.col("s9") == 8)
            ).alias("all_moves_to_new")
        )
    )
    shards = spark.range(9).select(F.col("id").cast("bigint").alias("shard"))
    per = (
        shards.crossJoin(flags)
        .join(
            assign,
            (F.col("s8") == F.col("shard")) | (F.col("s9") == F.col("shard")),
            "left",
        )
        .groupBy("shard", "all_moves_to_new")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("s8") == F.col("shard"), 1)), F.lit(0)
            ).cast("bigint").alias("n8"),
            F.coalesce(
                F.sum(F.when(F.col("s9") == F.col("shard"), 1)), F.lit(0)
            ).cast("bigint").alias("n9"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("s9") == F.col("shard"))
                        & (F.col("s8") != F.col("s9")),
                        1,
                    )
                ),
                F.lit(0),
            ).cast("bigint").alias("moved_in"),
        )
        .select("shard", "n8", "n9", "moved_in", "all_moves_to_new")
        .orderBy("shard")
    )
    return per


def _rebalance_oracle(n_shards: int = 8, max_steps: int = 20) -> str:
    """Generated unrolled-greedy oracle for ext_shard_rebalance_plan
    (the BPE-unroll house pattern): step CTE s{k} consumes ord rk=k via
    LEFT JOIN (a no-op pass-through when the corpus has fewer sources
    than max_steps), carrying the 8 shard loads plus that step's
    decision columns; assignments are the union of the step rows."""
    ls = ", ".join(f"CAST(0 AS BIGINT) AS l{j}" for j in range(n_shards))
    least = (
        "LEAST(" + ", ".join(f"s.l{j}" for j in range(n_shards)) + ")"
    )
    argmin = (
        "CASE "
        + " ".join(
            f"WHEN s.l{j} = {least} THEN {j}" for j in range(n_shards)
        )
        + " END"
    )
    homeload = (
        "CASE o.home "
        + " ".join(f"WHEN {j} THEN s.l{j}" for j in range(n_shards))
        + " END"
    )
    selcols = ", ".join(f"s.l{j} AS l{j}" for j in range(n_shards))
    steps = []
    for k in range(1, max_steps + 1):
        steps.append(f"""
s{k} AS (
  SELECT {", ".join(
      f"l{j} + CASE WHEN ch = {j} THEN b ELSE 0 END AS l{j}"
      for j in range(n_shards))},
         src, b, home, hl, ch
  FROM (
    SELECT {selcols}, COALESCE(o.bytes, 0) AS b, o.home AS home,
           o.source AS src, {homeload} AS hl,
           CASE WHEN o.source IS NULL THEN -1
                WHEN {homeload} + o.bytes <= cap.cap THEN o.home
                ELSE {argmin} END AS ch
    FROM s{k - 1} s
    CROSS JOIN cap
    LEFT JOIN (SELECT * FROM ord WHERE rk = {k}) o ON TRUE
  )
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT src, b, home, hl, ch FROM s{k} WHERE src IS NOT NULL"
        for k in range(1, max_steps + 1)
    )
    return f"""
WITH assign AS MATERIALIZED (
  SELECT doc_id, source, n_chars, {_hrw_sql(n_shards)} AS s8
  FROM documents
),
srcsum AS MATERIALIZED (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM assign GROUP BY source
),
homes AS MATERIALIZED (
  SELECT source, s8 AS home FROM (
    SELECT source, s8,
           row_number() OVER (
             PARTITION BY source ORDER BY COUNT(*) DESC, s8 ASC) AS rk
    FROM assign GROUP BY source, s8
  ) WHERE rk = 1
),
ord AS MATERIALIZED (
  SELECT s.source, s.bytes, h.home,
         row_number() OVER (ORDER BY s.bytes DESC, s.source ASC) AS rk
  FROM srcsum s JOIN homes h USING (source)
),
cap AS MATERIALIZED (
  SELECT CAST(SUM(bytes) * 5 // {4 * n_shards} AS BIGINT) AS cap
  FROM srcsum
),
s0 AS (SELECT {ls}, CAST(NULL AS VARCHAR) AS src,
       CAST(0 AS BIGINT) AS b, 0 AS home, CAST(0 AS BIGINT) AS hl,
       -1 AS ch),
{", ".join(s.strip() for s in steps)},
plan AS ({unions}),
gl AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN ch <> home THEN b END), 0)
              AS BIGINT) AS total_moved_bytes,
         COALESCE(BOOL_AND(CASE WHEN ch <> home
                           THEN hl + b > cap.cap END), TRUE)
           AS all_moves_forced,
         cap.cap AS cap_bytes
  FROM plan CROSS JOIN cap GROUP BY cap.cap
),
shards AS (SELECT UNNEST(generate_series(0, {n_shards - 1})) AS shard)
SELECT CAST(sh.shard AS BIGINT) AS shard,
       CAST(COUNT(p.src) AS BIGINT) AS n_sources,
       CAST(COALESCE(SUM(p.b), 0) AS BIGINT) AS planned_bytes,
       CAST(COALESCE(SUM(CASE WHEN p.ch <> p.home THEN 1 END), 0)
            AS BIGINT) AS moved_in_sources,
       CAST(COALESCE(SUM(CASE WHEN p.ch <> p.home THEN p.b END), 0)
            AS BIGINT) AS moved_in_bytes,
       g.total_moved_bytes, g.cap_bytes, g.all_moves_forced
FROM shards sh
CROSS JOIN gl g
LEFT JOIN plan p ON p.ch = sh.shard
GROUP BY sh.shard, g.total_moved_bytes, g.cap_bytes, g.all_moves_forced
ORDER BY shard
"""


@register(
    "ext_shard_rebalance_plan",
    survey_id="EXT-SHARD-REBALANCE",
    category="scale-pattern",
    oracle=_rebalance_oracle(),
)
def ext_shard_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCALITY-AWARE SHARD REBALANCING — the planning step after
    rendezvous assignment (ext_rendezvous_sharding): move data at
    SOURCE granularity (a source's documents co-locate, preserving
    crawl/provenance locality) onto 8 shards under a 1.25x-average
    byte cap, PREFERRING each source's current home (the majority HRW
    shard of its documents, ties to the smaller shard id) so a source
    moves only when keeping it home would overflow the cap. Greedy
    LPT order (bytes desc, source asc); overflow falls to the least
    loaded shard (ties to the smaller id). The MOVE-MINIMALITY
    invariant is recorded from the replayed state, not assumed:
    all_moves_forced = every moved source's home load at decision
    time plus its bytes exceeded the cap.

    Exactness: pure integer arithmetic over byte sums; the oracle
    replays the same greedy as 20 unrolled LEFT-JOIN step CTEs (the
    BPE pattern), so the whole plan hash-matches.

    Scale shape: the data-sized work is one row-local HRW fold plus a
    map-side-combinable (source, shard) count and byte sum; the
    greedy itself runs on the DIMENSION-sized source summary (~20
    rows, a bounded driver read — the plan is metadata, the corpus
    never moves through the driver). Output is an 8-row shard
    spine."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    assign = d.select(
        "source", "n_chars", _hrw_pick_spark(8).alias("s8")
    )
    srcsum = assign.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("bytes")
    )
    homes = (
        assign.groupBy("source", "s8")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("c").desc(), F.col("s8").asc()
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("source", F.col("s8").alias("home"))
    )
    summary = [
        (r["source"], int(r["bytes"]), int(r["home"]))
        for r in srcsum.join(homes, "source").collect()
    ]  # dimension-sized (#sources ~ 20): bounded driver read
    # the oracle unrolls exactly 20 greedy steps (LEFT-JOIN no-ops for
    # missing ranks) — fail loudly if a corpus ever exceeds it
    assert len(summary) <= 20, "rebalance oracle unroll bound exceeded"
    total = sum(b for _, b, _ in summary)
    cap = total * 5 // 32
    loads = [0] * 8
    plan_rows = []
    for source, b, home in sorted(summary, key=lambda r: (-r[1], r[0])):
        hl = loads[home]
        if hl + b <= cap:
            ch = home
        else:
            ch = min(range(8), key=lambda j: (loads[j], j))
        plan_rows.append((source, b, home, hl, ch, hl + b > cap))
        loads[ch] += b
    plan = spark.createDataFrame(
        plan_rows,
        "src string, b long, home int, hl long, ch int, overflow boolean",
    )
    moved = F.col("ch") != F.col("home")
    glob = F.broadcast(
        plan.agg(
            F.coalesce(F.sum(F.when(moved, F.col("b"))), F.lit(0))
            .cast("bigint")
            .alias("total_moved_bytes"),
            F.coalesce(
                F.every(F.when(moved, F.col("overflow"))), F.lit(True)
            ).alias("all_moves_forced"),
        ).withColumn("cap_bytes", F.lit(cap).cast("bigint"))
    )
    shards = spark.range(8).select(F.col("id").cast("bigint").alias("shard"))
    return (
        shards.crossJoin(glob)
        .join(plan, F.col("ch") == F.col("shard"), "left")
        .groupBy(
            "shard", "total_moved_bytes", "cap_bytes", "all_moves_forced"
        )
        .agg(
            F.count("src").cast("bigint").alias("n_sources"),
            F.coalesce(F.sum("b"), F.lit(0))
            .cast("bigint")
            .alias("planned_bytes"),
            F.coalesce(F.sum(F.when(moved, 1)), F.lit(0))
            .cast("bigint")
            .alias("moved_in_sources"),
            F.coalesce(F.sum(F.when(moved, F.col("b"))), F.lit(0))
            .cast("bigint")
            .alias("moved_in_bytes"),
        )
        .select(
            "shard",
            "n_sources",
            "planned_bytes",
            "moved_in_sources",
            "moved_in_bytes",
            "total_moved_bytes",
            "cap_bytes",
            "all_moves_forced",
        )
        .orderBy("shard")
    )
