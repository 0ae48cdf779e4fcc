"""Join queries (SURVEY §2.3 C1–C11; C12/C13 are in streaming_q).

Scale notes baked into each query: dimension sides (customer, nation,
region, supplier, part stay dimension-sized at 100 TB) are broadcast;
fact-fact joins shuffle on their keys and rely on AQE for skew; the
as-of join uses the one-shuffle union+window operator instead of a
join-product rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nibbler_spark.operators.asof import asof_join_backward
from nibbler_spark.queries import register
from nibbler_spark.queries._helpers import dsum, sql_dsum
from nibbler_spark.session import scoped_conf
from nibbler_spark.sources import load_table


@register(
    "c01_join_inner",
    survey_id="C1",
    category="join",
    oracle="""
SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
""",
)
def c01_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi join fact→dim. customer is a dimension: broadcast it so
    the fact side never shuffles (at 100 TB this is the difference between
    a map-side join and a full lineage shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    )


@register(
    "c01_join_3way_agg",
    survey_id="C1",
    category="join",
    oracle=f"""
SELECT c_mktsegment, n_name,
       {sql_dsum('l_extendedprice')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY c_mktsegment, n_name
ORDER BY c_mktsegment, n_name
""",
)
def c01_join_3way_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-B2: multi-way join + aggregation. lineitem⋈orders is the only
    fact-fact shuffle (co-partitioned on orderkey); customer and nation
    broadcast. Partial aggregation collapses before the final tiny
    group-by shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_mktsegment", "n_name")
        .agg(
            dsum("l_extendedprice").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("c_mktsegment", "n_name")
    )


@register(
    "c02_join_left_right",
    survey_id="C2",
    category="join",
    oracle="""
WITH big AS (SELECT * FROM orders WHERE o_totalprice > 450000)
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN big ON c_custkey = o_custkey
ORDER BY c_custkey, o_orderkey NULLS FIRST
""",
)
def c02_join_left_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with guaranteed unmatched left rows (orders
    filtered to the top price band). Expressed as a RIGHT join from the
    filtered side — same plan, both directions exercised."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(F.col("c_custkey"), F.col("o_orderkey").asc_nulls_first())
    )


@register(
    "c03_join_full_outer",
    survey_id="C3",
    category="join",
    oracle="""
WITH o_open AS (
  SELECT o_custkey AS k, COUNT(*) AS open_cnt
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
),
o_done AS (
  SELECT o_custkey AS k, COUNT(*) AS done_cnt
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
)
SELECT COALESCE(o_open.k, o_done.k) AS custkey, open_cnt, done_cnt
FROM o_open FULL JOIN o_done ON o_open.k = o_done.k
ORDER BY custkey
""",
)
def c03_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two partial aggregates over the same fact —
    customers with only-open or only-finished orders appear one-sided."""
    o = load_table(spark, sf_dir, "orders")
    o_open = (
        o.where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("open_cnt"))
    )
    o_done = (
        o.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("done_cnt"))
    )
    return (
        o_open.join(o_done, "k", "full")
        .select(F.col("k").alias("custkey"), "open_cnt", "done_cnt")
        .orderBy("custkey")
    )


@register(
    "c04_join_left_semi",
    survey_id="C4",
    category="join",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
""",
)
def c04_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "c05_join_left_anti",
    survey_id="C5",
    category="join",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
""",
)
def c05_join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS). Spark's anti join keeps NULL-key left
    rows, matching the NOT EXISTS form (SURVEY C5 ⚠); keys here are
    non-NULL primary keys anyway."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "c06_cross_join",
    survey_id="C6",
    category="join",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
ORDER BY r_name, n_name
""",
)
def c06_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join — dimension×dimension only; never done on facts at scale
    (SURVEY §2.3 design rule)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n).orderBy("r_name", "n_name")


@register(
    "c07_broadcast_join",
    survey_id="C7",
    category="join",
    oracle="""
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""",
)
def c07_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hint join; output ≡ the plain inner join. The
    plan-level assertion (BroadcastHashJoin present) lives in
    tests/test_plans.py."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )


@register(
    "c08_multi_key_join",
    survey_id="C8",
    category="join",
    oracle=f"""
WITH flagstats AS (
  SELECT l_returnflag, l_linestatus, {sql_dsum('l_quantity')} AS grp_qty
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_linestatus, f.grp_qty
FROM lineitem l
JOIN flagstats f USING (l_returnflag, l_linestatus)
ORDER BY l.l_orderkey, l.l_linenumber
""",
)
def c08_multi_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column equi join: fact joined back to its own group stats (the
    windowless partition-aggregate pattern)."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("grp_qty")
    )
    return (
        li.join(F.broadcast(stats), ["l_returnflag", "l_linestatus"])
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "grp_qty"
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "c09_theta_join",
    survey_id="C9",
    category="join",
    oracle="""
SELECT s_suppkey, s_name, c_custkey, s_acctbal, c_acctbal
FROM supplier JOIN customer
  ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
ORDER BY s_suppkey, c_custkey
""",
)
def c09_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed equi + inequality (theta) join: the equi part hashes, the
    inequality filters post-match — no cartesian product."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (s.s_acctbal < c.c_acctbal),
        )
        .select("s_suppkey", "s_name", "c_custkey", "s_acctbal", "c_acctbal")
        .orderBy("s_suppkey", "c_custkey")
    )


@register(
    "c10_interval_join",
    survey_id="C10",
    category="join",
    oracle="""
SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id,
       a.ts AS ts_a, b.ts AS ts_b
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
ORDER BY eid_a, eid_b
""",
)
def c10_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval (band) self-join: pairs of events of the same
    user within ±5 minutes. Hashes on user_id; the band predicate filters
    the per-key product (at 100 TB you'd additionally bucket by
    time-window to bound per-key blowup)."""
    e = load_table(spark, sf_dir, "events")
    a = e.alias("a")
    b = e.alias("b")
    five_min = F.expr("INTERVAL 5 MINUTES")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (
                F.col("b.ts").between(
                    F.col("a.ts") - five_min, F.col("a.ts") + five_min
                )
            ),
        )
        .select(
            F.col("a.event_id").alias("eid_a"),
            F.col("b.event_id").alias("eid_b"),
            F.col("a.user_id").alias("user_id"),
            F.col("a.ts").alias("ts_a"),
            F.col("b.ts").alias("ts_b"),
        )
        .orderBy("eid_a", "eid_b")
    )


@register(
    "c11_asof_join",
    survey_id="C11",
    category="join",
    oracle="""
WITH cand AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
         ) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id, ts, o_orderkey AS last_orderkey,
       o_orderdate AS last_orderdate
FROM cand WHERE rn = 1
ORDER BY event_id
""",
)
def c11_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each event matched to the user's latest
    order at or before the event time. Runs on the one-shuffle
    union+window operator (operators/asof.py) — the oracle is the
    equivalent row_number rewrite."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join_backward(
        e,
        o,
        left_time="ts",
        right_time="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        left_cols=["event_id", "user_id", "ts"],
        right_cols=["o_orderkey", "o_orderdate"],
        right_tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
    ).orderBy("event_id")


@register(
    "c14_interval_join_bucketed",
    survey_id="C14",
    category="join",
    oracle="""
SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id,
       a.ts AS ts_a, b.ts AS ts_b
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
ORDER BY eid_a, eid_b
""",
)
def c14_interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of C10's band join: time is bucketed into 5-minute
    bins and each probe row explodes to its bin ±1, so the band join
    becomes an EQUI-join on (user_id, bin) with the exact band as a
    residual filter. Identical output to C10 (same oracle), different
    physics: the shuffle key now includes time, so a hot user's history
    spreads across many tasks instead of one, and each task enumerates
    only adjacent-bin candidates instead of the user's whole timeline.
    |bin diff| <= 1 is implied by |ts diff| <= 300 s, so no pair is lost;
    bin uniqueness per right row means no pair is duplicated."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    bin_col = F.floor(F.unix_micros(F.col("ts")) / F.lit(300_000_000))
    binned = e.withColumn("bin", bin_col)
    probe = binned.withColumn(
        "pbin",
        F.explode(
            F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)
        ),
    )
    five_min = F.expr("INTERVAL 5 MINUTES")
    return (
        probe.alias("a")
        .join(
            binned.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.pbin") == F.col("b.bin")),
        )
        .where(
            (F.col("a.event_id") < F.col("b.event_id"))
            & F.col("b.ts").between(
                F.col("a.ts") - five_min, F.col("a.ts") + five_min
            )
        )
        .select(
            F.col("a.event_id").alias("eid_a"),
            F.col("b.event_id").alias("eid_b"),
            F.col("a.user_id").alias("user_id"),
            F.col("a.ts").alias("ts_a"),
            F.col("b.ts").alias("ts_b"),
        )
        .orderBy("eid_a", "eid_b")
    )


@register(
    "c15_null_safe_join",
    survey_id="C15",
    category="join",
    oracle="""
WITH l AS (
  SELECT o_orderkey, NULLIF(o_orderkey % 5, 0) AS k, o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0
),
r AS (
  SELECT NULLIF(v % 5, 0) AS k, v AS tag
  FROM generate_series(0, 9) AS t(v)
)
SELECT l.o_orderkey, l.k, r.tag
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
ORDER BY l.o_orderkey, r.tag
""",
)
def c15_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — required for joining on nullable
    dimension keys without a COALESCE-sentinel rewrite. Still compiles
    to a hash join (the null bucket is a regular key), so the plan is
    identical to C1's; only the key comparison changes. Note the skew
    caveat at 100 TB: a large NULL population becomes one hot key —
    exactly what AQE skew splitting or an explicit null-fanout salt
    addresses."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 97 == 0
    )
    left = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderkey") % 5, F.lit(0)).alias("k"),
        "o_totalprice",
    )
    right = spark.range(0, 10).select(
        F.nullif(F.col("id") % 5, F.lit(0)).alias("rk"),
        F.col("id").alias("tag"),
    )
    return (
        left.join(right, left["k"].eqNullSafe(right["rk"]))
        .select("o_orderkey", "k", "tag")
        .orderBy("o_orderkey", "tag")
    )


@register(
    "ext_bucketed_band_join",
    survey_id="EXT-BAND-BUCKET",
    category="join",
    oracle="""
SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id,
       a.ts AS ts_a, b.ts AS ts_b
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
ORDER BY eid_a, eid_b
""",
)
def ext_bucketed_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB form of c10's band join — the time-bucket refinement
    its docstring promises: events land in 5-minute epoch buckets
    (= the band width), the probe side additionally explodes to its
    neighbor buckets {b−1, b, b+1}, and the join key becomes
    (user_id, bucket) — so a user with a year of history no longer
    produces a year² per-key product, only the pairs within adjacent
    buckets (the 1-D version of ext_grid_spatial_join's cell stencil).
    The exact band predicate then filters candidates. Output is
    IDENTICAL to c10 (same oracle text): bucketing is a pure candidate
    -set optimization — proving that is the point of this query. Each
    true pair is found exactly once: the probe's 3-bucket fan-out hits
    the build row's single home bucket exactly once per (a,b)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.expr("CAST(unix_micros(ts) AS BIGINT) div 300000000").alias(
            "bk"
        ),
    )
    probe = e.select(
        F.col("event_id").alias("eid_a"),
        F.col("user_id"),
        F.col("ts").alias("ts_a"),
        F.explode(
            F.array(F.col("bk") - 1, F.col("bk"), F.col("bk") + 1)
        ).alias("jb"),
    )
    build = e.select(
        F.col("event_id").alias("eid_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
        F.col("bk").alias("jb"),
    )
    five_min = F.expr("INTERVAL 5 MINUTES")
    return (
        probe.join(
            build,
            (probe["user_id"] == build["user_b"])
            & (probe["jb"] == build["jb"]),
        )
        .where(
            (F.col("eid_a") < F.col("eid_b"))
            & F.col("ts_b").between(
                F.col("ts_a") - five_min, F.col("ts_a") + five_min
            )
        )
        .select("eid_a", "eid_b", "user_id", "ts_a", "ts_b")
        .orderBy("eid_a", "eid_b")
    )


@register(
    "ext_join_strategy_hints",
    survey_id="EXT-JOIN-HINTS",
    category="join",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {sql_dsum('l_extendedprice')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def ext_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hints (SHUFFLE_MERGE / SHUFFLE_HASH) — the manual
    override lane when the optimizer's cost pick is wrong for a
    workload: the SAME join runs under both hints, each plan is
    asserted to carry the hinted operator (SortMergeJoin vs
    ShuffledHashJoin), and both results must agree with the oracle —
    strategy choice can never change semantics. ShuffledHashJoin skips
    both sort phases and wins when the build side fits per-partition
    memory; SortMergeJoin spills gracefully — the 100 TB trade this
    query pins. (BROADCAST is c07's row.)"""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):

        def run(hint: str):
            return (
                li.join(o.hint(hint), li["l_orderkey"] == o["o_orderkey"])
                .groupBy("o_orderstatus")
                .agg(
                    F.count("*").alias("n"),
                    dsum("l_extendedprice").alias("revenue"),
                )
                .orderBy("o_orderstatus")
            )

        smj = run("SHUFFLE_MERGE")
        shj = run("SHUFFLE_HASH")
        p_smj = smj._jdf.queryExecution().executedPlan().toString()
        p_shj = shj._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p_smj, p_smj[:800]
        assert "ShuffledHashJoin" in p_shj, p_shj[:800]
        # both strategies must produce identical rows; return the SHJ one
        assert [tuple(r) for r in smj.collect()] == [
            tuple(r) for r in shj.collect()
        ]
        return shj
