"""UDF / UDAF / UDTF queries (SURVEY §2.3 J1–J6; J7 stateful is I8 in
streaming_q).

Every declared UDF body is SQL-expressible so the oracle can recompute it
natively (SURVEY J design). Performance discipline: J1 is the slow path
(row-at-a-time Python, kept for API parity); J2–J5 are Arrow-batched
pandas UDFs — the only Python execution style this engine uses in hot
paths.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from nibbler_spark.queries import pin, register
from nibbler_spark.session import scoped_conf
from nibbler_spark.sources import load_table, register_temp_views


@register(
    "j01_scalar_python_udf",
    survey_id="J1",
    category="udf",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity * 2 + 1 AS qty_udf
FROM lineitem ORDER BY l_orderkey, l_linenumber
""",
)
def j01_scalar_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the declared body x*2+1 is pure double
    arithmetic — engine-identical)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = F.udf(lambda x: x * 2 + 1, DoubleType())
    # localCheckpoint before the final sort: the range partitioner's
    # sampling job re-executes the stage above the last exchange, so
    # without the cut the Python UDF stage runs TWICE (guide §4/§5;
    # r11 A/B on the sibling j04: 10.4 s -> 5.0 s).
    return pin(li.select(
        "l_orderkey", "l_linenumber", f("l_quantity").alias("qty_udf")
    )).orderBy("l_orderkey", "l_linenumber")


@register(
    "j02_pandas_scalar_udf",
    survey_id="J2",
    category="udf",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS disc_price_udf
FROM lineitem ORDER BY l_orderkey, l_linenumber
""",
)
def j02_pandas_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) scalar pandas UDF — same IEEE ops as the SQL
    expression, ~10-100x the row-at-a-time UDF throughput."""
    li = load_table(spark, sf_dir, "lineitem")

    @F.pandas_udf("double")
    def disc_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_price("l_extendedprice", "l_discount").alias("disc_price_udf"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "j03_grouped_agg_pandas_udf",
    survey_id="J3",
    category="udf",
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS wavg_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def j03_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): quantity-weighted mean price.
    Accumulation order differs from the oracle's ⇒ 4 dp rounding."""
    li = load_table(spark, sf_dir, "lineitem")

    @F.pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    return (
        li.groupBy("l_returnflag")
        .agg(F.round(wavg("l_extendedprice", "l_quantity"), 4).alias("wavg_price"))
        .orderBy("l_returnflag")
    )


@register(
    "j04_apply_in_pandas_zscore",
    survey_id="J4",
    category="udf",
    oracle="""
SELECT event_id, user_id,
       ROUND((value - AVG(value) OVER (PARTITION BY user_id))
             / STDDEV_SAMP(value) OVER (PARTITION BY user_id), 4) + 0 AS zscore
FROM events ORDER BY event_id
""",
)
def j04_apply_in_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map (applyInPandas): per-user z-score — the classic
    'window rewrite as grouped pandas' pattern."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        # +0.0 normalizes -0.0 (engines disagree on the sign of a
        # rounded near-zero zscore)
        pdf = pdf.assign(zscore=((v - v.mean()) / v.std(ddof=1)).round(4) + 0.0)
        return pdf[["event_id", "user_id", "zscore"]]

    # localCheckpoint: the final sort's range-sampling job would run
    # the grouped-map Python stage twice (A/B: 10.4 s -> 5.0 s).
    return (
        pin(e.groupBy("user_id")
        .applyInPandas(zscore, "event_id long, user_id long, zscore double"))
        .orderBy("event_id")
    )


@register(
    "j05_map_in_pandas",
    survey_id="J5",
    category="udf",
    oracle="""
SELECT event_id, value * 0.1 + LENGTH(event_type) AS fee
FROM events ORDER BY event_id
""",
)
def j05_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise map (mapInPandas) — streams Arrow batches through
    Python without grouping."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )

    def add_fee(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "fee": pdf["value"] * 0.1 + pdf["event_type"].str.len(),
                }
            )

    return e.mapInPandas(add_fee, "event_id long, fee double").orderBy(
        "event_id"
    )


@register(
    "j06_python_udtf",
    survey_id="J6",
    category="udf",
    oracle="""
SELECT i, i * i AS sq FROM generate_series(1, 10) AS t(i) ORDER BY i
""",
)
def j06_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function, Spark ≥3.5): emits (i, i²) rows."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="i bigint, sq bigint")
    class GenSquares:
        def eval(self, start: int, end: int):
            for i in range(start, end + 1):
                yield (i, i * i)

    spark.udtf.register("gen_squares", GenSquares)
    return spark.sql("SELECT * FROM gen_squares(1, 10) ORDER BY i")


@register(
    "j07_pandas_udf_iterator",
    survey_id="EXT-UDF-ITER",
    category="udf",
    oracle="""
SELECT o_orderkey, o_totalprice * 1.1 AS price_with_markup
FROM orders WHERE o_orderkey % 23 = 0 ORDER BY o_orderkey
""",
)
def j07_pandas_udf_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR_ITER pandas UDF: the iterator-of-batches flavor that lets
    expensive per-executor initialization (model load, dictionary mmap)
    happen ONCE per partition instead of once per batch — the standard
    shape for ML-inference UDFs at scale. The body stays SQL-expressible
    for the oracle."""

    @F.pandas_udf(DoubleType())
    def markup(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        factor = 1.1  # stands in for once-per-partition heavy init
        for s in batches:
            yield s * factor

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 23 == 0
    )
    return o.select(
        "o_orderkey", markup("o_totalprice").alias("price_with_markup")
    ).orderBy("o_orderkey")


@register(
    "j08_arrow_python_udf",
    survey_id="EXT-UDF-ARROW",
    category="udf",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey % 7 AS BIGINT) * 3 AS keyed
FROM orders WHERE o_orderkey % 29 = 0 ORDER BY o_orderkey
""",
)
def j08_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (useArrow=True, Spark 3.5+): same
    row-level programming model as J1 but serialized over Arrow batches
    instead of pickled rows — the migration path that removes most of
    the classic Python-UDF tax without rewriting the function as a
    pandas UDF."""
    f = F.udf(lambda k: (k % 7) * 3, "long", useArrow=True)
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 29 == 0
    )
    return o.select("o_orderkey", f("o_orderkey").alias("keyed")).orderBy(
        "o_orderkey"
    )


@register(
    "j09_cogrouped_apply_in_pandas",
    survey_id="EXT-UDF-COGROUP",
    category="udf",
    oracle="""
WITH o AS (
  SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
),
e AS (
  SELECT user_id, COUNT(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT COALESCE(o.user_id, e.user_id) AS user_id,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.spend, 0.0) AS spend,
       COALESCE(e.n_events, 0) AS n_events
FROM o FULL OUTER JOIN e ON o.user_id = e.user_id
WHERE COALESCE(o.user_id, e.user_id) % 20 = 0
ORDER BY user_id
""",
)
def j09_cogrouped_apply_in_pandas(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cogrouped applyInPandas: TWO tables grouped on the same key are
    delivered to one pandas function as paired frames — the API for
    per-entity reconciliation (orders vs events here) where each side
    may be empty. Both sides arrive pre-aggregated, so each cogroup is
    at most one row per side and executor memory is bounded. The merge
    logic is SQL-expressible (full outer join with COALESCE defaults),
    which is what the oracle checks."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 20 == 0)
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("spend"),
        )
    )
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 20 == 0)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )

    def reconcile(orders_pdf: pd.DataFrame, events_pdf: pd.DataFrame):
        uid = (
            orders_pdf["user_id"].iloc[0]
            if len(orders_pdf)
            else events_pdf["user_id"].iloc[0]
        )
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_orders": [
                    int(orders_pdf["n_orders"].iloc[0])
                    if len(orders_pdf)
                    else 0
                ],
                "spend": [
                    float(orders_pdf["spend"].iloc[0])
                    if len(orders_pdf)
                    else 0.0
                ],
                "n_events": [
                    int(events_pdf["n_events"].iloc[0])
                    if len(events_pdf)
                    else 0
                ],
            }
        )

    # localCheckpoint: the final sort's range-sampling job would run
    # the cogrouped Python stage twice (j04 A/B precedent).
    return (
        pin(o.groupBy("user_id")
        .cogroup(e.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id long, n_orders long, spend double, n_events long",
        ))
        .orderBy("user_id")
    )


@register(
    "j10_udtf_analyze",
    survey_id="EXT-UDTF-ANALYZE",
    category="udf",
    oracle="""
SELECT i AS n, i * 2 AS c0, i * 2 + 1 AS c1
FROM generate_series(1, 6) AS t(i) ORDER BY n
""",
)
def j10_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a static analyze() (Spark 4): the OUTPUT SCHEMA
    is computed at plan time from the call's literal arguments — here
    the column count comes from the `width` argument, so the same UDTF
    compiles to different shapes per call site. The polymorphic
    table-function hook user pipelines use for schema-driven
    generators/parsers."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import LongType, StructField, StructType

    @udtf
    class WideRange:
        @staticmethod
        def analyze(end: AnalyzeArgument, width: AnalyzeArgument):
            fields = [StructField("n", LongType())] + [
                StructField(f"c{i}", LongType()) for i in range(width.value)
            ]
            return AnalyzeResult(StructType(fields))

        def eval(self, end: int, width: int):
            for i in range(1, end + 1):
                yield tuple([i] + [i * 2 + j for j in range(width)])

    spark.udtf.register("wide_range", WideRange)
    return spark.sql("SELECT * FROM wide_range(6, 2) ORDER BY n")


@register(
    "j10_python_udtf_analyze",
    survey_id="EXT-UDTF-ANALYZE",
    category="udf",
    oracle="""
SELECT i AS base, i AS p1, i * i AS p2, i * i * i AS p3
FROM generate_series(1, 12) AS t(i) ORDER BY base
""",
)
def j10_python_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF: the static ``analyze`` hook computes the
    OUTPUT SCHEMA from the call's literal arguments at plan time —
    ``gen_powers(3)`` returns (base, p1..p3), ``gen_powers(5)`` would
    return five power columns — the Spark 4 API for table functions
    whose shape depends on their parameters (pivot-like expanders,
    configurable feature generators). The declared call uses n=3 and
    must hash-match a static SQL spelling, proving the dynamic schema
    binds correctly end to end."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class GenPowers:
        @staticmethod
        def analyze(n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType().add("base", LongType())
            for j in range(1, n.value + 1):
                schema = schema.add(f"p{j}", LongType())
            return AnalyzeResult(schema=schema)

        def eval(self, n: int):
            for base in range(1, 13):
                yield (base, *[base**j for j in range(1, n + 1)])

    spark.udtf.register("gen_powers", GenPowers)
    return spark.sql("SELECT * FROM gen_powers(3) ORDER BY base")


@register(
    "j11_map_in_arrow",
    survey_id="EXT-ARROW-MAP",
    category="udf",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def j11_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow`: the lowest-overhead Python boundary — batches cross
    as Arrow RecordBatches with NO pandas materialization, and the
    transform itself runs in vectorized Arrow compute kernels
    (multiply/floor/cast on whole columns). The discounted-price cents
    are IEEE-double ops identical to the JVM/DuckDB formulations, so the
    post-UDF keyed aggregate hash-matches the pure-SQL oracle. Use this
    boundary when a Python library speaks Arrow natively (tokenizers,
    Lance, DataFusion interop) — it skips the pandas conversion tax
    j05-style mapInPandas pays. Partial aggregation still happens
    map-side above the UDF, so the shuffle carries one row per
    (partition, flag)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )

    def cents_batches(batches):
        for b in batches:
            rev = pc.multiply(
                b.column(1), pc.subtract(pa.scalar(1.0), b.column(2))
            )
            cents = pc.cast(
                pc.floor(pc.multiply(rev, pa.scalar(100.0))), pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(0), cents], ["l_returnflag", "cents"]
            )

    out = li.mapInArrow(cents_batches, "l_returnflag string, cents long")
    return (
        out.groupBy("l_returnflag")
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "j12_udtf_table_partition",
    survey_id="EXT-UDTF-TABLE",
    category="udf",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       MIN(l_orderkey) AS first_key, MAX(l_orderkey) AS last_key
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def j12_udtf_table_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument, PARTITION BY + ORDER BY
    (Spark 4): the engine hash-partitions the input on l_returnflag,
    sorts each partition by (l_orderkey, l_linenumber), and feeds each
    group to its own UDTF instance — eval() streams the rows,
    terminate() emits the group summary. This is the custom-aggregate
    escape hatch when an operator is genuinely imperative (sequential
    state machines, per-group model fits): the CLUSTERING is still
    declared to Catalyst (one keyed exchange, partition-parallel), only
    the per-group fold is Python. Integer accumulation makes the
    summary hash-exact; first/last keys prove the declared ORDER BY was
    honored inside each partition."""
    from pyspark.sql.functions import udtf

    # A/B (r11): useArrow=True on this UDTF measured 60.3 s vs 17.8 s
    # for the pickle path at sf0.1 — the Arrow-optimized UDTF input
    # materializes a per-row Row view whose overhead exceeds the batched
    # pickle transfer at 600 k rows x 4 columns. Kept the default path.
    @udtf(returnType=(
        "l_returnflag string, n_items bigint, cents bigint, "
        "first_key bigint, last_key bigint"
    ))
    class FlagSummary:
        def __init__(self):
            self.flag = None
            self.n = 0
            self.cents = 0
            self.first_key = None
            self.last_key = None

        def eval(self, row):
            self.flag = row["l_returnflag"]
            self.n += 1
            self.cents += row["cents"]
            if self.first_key is None:
                self.first_key = row["l_orderkey"]
            self.last_key = row["l_orderkey"]

        def terminate(self):
            if self.flag is not None:
                yield (
                    self.flag,
                    self.n,
                    self.cents,
                    self.first_key,
                    self.last_key,
                )

    spark.udtf.register("flag_summary", FlagSummary)
    register_temp_views(spark, sf_dir)
    # localCheckpoint between the UDTF and the final ORDER BY: the
    # range partitioner's sampling job re-executes the stage above the
    # last exchange, so the one-statement form streamed all 600 k rows
    # through the Python UDTF TWICE for a 3-row result (guide §5).
    summary = pin(spark.sql(
        """
        SELECT * FROM flag_summary(
          TABLE(
            SELECT l_returnflag, l_orderkey, l_linenumber,
                   CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem
          )
          PARTITION BY l_returnflag
          ORDER BY (l_orderkey, l_linenumber)
        )
        """
    ))
    return summary.orderBy("l_returnflag")


@register(
    "j13_apply_in_arrow",
    survey_id="EXT-ARROW-GROUPED",
    category="udf",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(MAX(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
            - MIN(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_range
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def j13_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map `applyInArrow` (Spark 4): each group arrives as ONE
    pyarrow Table and the fold runs in Arrow compute kernels — the
    grouped counterpart of j11's mapInArrow, completing the Arrow-
    native UDF matrix (scalar j08, map j11, grouped-map here) next to
    the pandas matrix (j02/j04/j05/j09). Same engine-declared
    clustering as applyInPandas, but without the pandas conversion on
    either side — the boundary a group-level native-library fold
    (tokenizer vocab builds, Arrow-native stats) should use. Integer
    cents make the per-group summary hash-exact."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )

    def fold(table: "pa.Table") -> "pa.Table":
        cents = table["cents"]
        return pa.table(
            {
                "l_returnflag": [table["l_returnflag"][0].as_py()],
                "n_items": [table.num_rows],
                "cents": [pc.sum(cents).as_py()],
                "cents_range": [
                    pc.max(cents).as_py() - pc.min(cents).as_py()
                ],
            }
        )

    return (
        li.groupBy("l_returnflag")
        .applyInArrow(
            fold,
            "l_returnflag string, n_items bigint, cents bigint, "
            "cents_range bigint",
        )
        .orderBy("l_returnflag")
    )


@register(
    "j14_pandas_iter_udf",
    survey_id="EXT-UDF-ITER",
    category="udf",
    oracle="""
SELECT o_orderkey,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) % 97 AS price_mod
FROM orders WHERE o_custkey % 25 = 0 ORDER BY o_orderkey
""",
)
def j14_pandas_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series Pandas UDF (SCALAR_ITER) — the third scalar
    UDF evaluation mode after row-at-a-time (j01) and Series→Series
    (j02): the function receives an ITERATOR of Arrow batches, letting
    expensive per-worker initialization (model load, dictionary build)
    happen once per task instead of once per batch — the shape that
    matters when a UDF wraps a tokenizer or an ONNX session. Here the
    'initialization' is a small modulus table; the math (integer cents
    mod 97) is SQL-replicable so the result is hash-checked. Scale:
    same Arrow pipeline as j02 — per-partition streaming, no driver
    bytes, init cost amortized across all of a task's batches."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def price_mod(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        modulus = 97  # stands in for per-task heavyweight init
        for s in it:
            yield (s * 100).apply(lambda v: int(v // 1)) % modulus

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey") % 25 == 0
    )
    return (
        o.select(
            "o_orderkey", price_mod(F.col("o_totalprice")).alias("price_mod")
        )
        .orderBy("o_orderkey")
    )


@register(
    "j15_script_transform",
    survey_id="EXT-SCRIPT-TRANSFORM",
    category="udf",
    oracle="""
SELECT o_orderkey,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS floor_price
FROM orders WHERE o_custkey % 50 = 0 ORDER BY o_orderkey
""",
)
def j15_script_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style script transform (`SELECT TRANSFORM ... USING`) — the
    pipe-through-an-external-process escape hatch, Spark's oldest UDF
    mechanism and still the only one that can wrap an arbitrary binary:
    rows stream to `awk` over stdin as tab-separated text and come
    back the same way (here: integer floor of the price — awk's %d of
    a positive number truncates, matching FLOOR). Runs on Spark's
    native script transform (no Hive metastore needed). Scale: the
    child process is per-task and stream-oriented — rows never buffer
    beyond pipe capacity; it IS the slow path (fork + text serde per
    partition) and the docstring of choice for 'prefer Pandas UDFs
    unless you need a binary'."""
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(t.k AS BIGINT) AS o_orderkey,
               CAST(t.fp AS BIGINT) AS floor_price
        FROM (
          SELECT TRANSFORM (o_orderkey, o_totalprice)
            ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'
            USING "awk '{ print int($1) \\"\\t\\" int($2) }'"
            AS (k STRING, fp STRING)
            ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'
          FROM orders WHERE o_custkey % 50 = 0
        ) t
        ORDER BY o_orderkey
        """
    )


@register(
    "j16_arrow_python_udf",
    survey_id="EXT-UDF-ARROW",
    category="udf",
    oracle="""
SELECT event_id,
       CAST(FLOOR(value * 100) AS BIGINT) * 3 + 1 AS chained
FROM events WHERE user_id % 35 = 0 ORDER BY event_id
""",
)
def j16_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized plain Python UDF
    (spark.sql.execution.pythonUDF.arrow.enabled, Spark 4): the same
    row-at-a-time @udf source code j01 uses, but the exchange with the
    Python worker runs over Arrow batches instead of pickled rows —
    the config-flip that buys most of a Pandas UDF's serde win without
    touching UDF code. Semantics pinned identical to the unfused SQL
    expression. Scale: the serialization layer is the dominant cost of
    Python UDFs; this is the migration path for codebases full of
    legacy @udf functions."""
    from pyspark.sql.functions import udf

    with scoped_conf(
        spark, {"spark.sql.execution.pythonUDF.arrow.enabled": "true"}
    ):

        @udf("bigint")
        def chain(v: float) -> int:
            return int(v * 100 // 1) * 3 + 1

        e = load_table(spark, sf_dir, "events").where(
            F.col("user_id") % 35 == 0
        )
        out = e.select(
            "event_id", chain(F.col("value")).alias("chained")
        ).orderBy("event_id")
        out.count()  # materialize under the arrow flag
        return out


@register(
    "j17_pandas_udaf_window",
    survey_id="EXT-UDAF-WINDOW",
    category="udf",
    oracle="""
SELECT event_id, user_id,
       CAST(AVG(CAST(FLOOR(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_avg_cents
FROM events WHERE user_id % 45 = 0
ORDER BY event_id
""",
)
def j17_pandas_udaf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A grouped-agg pandas UDF evaluated OVER A WINDOW FRAME — the
    third UDAF context after groupBy (j03) and full-partition windows:
    Spark re-evaluates the vectorized aggregate per sliding frame
    (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), so custom Python
    aggregations get rolling-window semantics without a stateful UDF.
    Integer-cents mean over ≤3 rows is exact in double, so the result
    hash-matches the builtin AVG the oracle states. Scale: frames
    evaluate inside the window exchange — same shuffle as a builtin
    rolling mean, plus the Arrow hop per frame (the documented cost;
    prefer builtins unless the aggregate genuinely needs Python)."""
    from pyspark.sql import Window as _W
    from pyspark.sql.functions import pandas_udf

    # NB: module-level `pd` — under `from __future__ import annotations`
    # the type hints are strings resolved against module globals, so a
    # function-local pandas alias breaks pandas_udf's signature check
    @pandas_udf("double")
    def cents_mean(v: pd.Series) -> float:
        return float(v.mean())

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 45 == 0
    )
    w = (
        _W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, _W.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
            "ts",
        )
        .select(
            "event_id",
            "user_id",
            cents_mean(F.col("cents")).over(w).alias("rolling_avg_cents"),
        )
        .orderBy("event_id")
    )


@register(
    "j18_pandas_on_spark",
    survey_id="J18",
    category="udf",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
""",
)
def j18_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-on-Spark API (`pyspark.pandas`) — the pandas dialect
    compiled onto Catalyst plans, the migration path for teams with
    pandas codebases: `df.pandas_api()` wraps the distributed frame,
    a pandas-style groupby/agg chain runs WITHOUT collecting anything
    (each step builds the same logical plan the DataFrame API would),
    and `.to_spark()` hands the plan back for the declared result.
    The oracle is the plain relational statement of the same
    aggregate — proving the pandas dialect's semantics, not just its
    API shape. Scale: identical plan to D1; the pandas layer adds an
    index column and nothing else."""
    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    psdf = d.pandas_api()
    agg = psdf.groupby("lang").agg(
        n_docs=("n_chars", "count"),
        total_chars=("n_chars", "sum"),
        max_chars=("n_chars", "max"),
    )
    out = agg.reset_index().to_spark()
    return out.select(
        "lang",
        F.col("n_docs").cast("bigint"),
        F.col("total_chars").cast("bigint"),
        F.col("max_chars").cast("bigint"),
    ).orderBy("lang")


@register(
    "ext_rate_limiter_admission",
    survey_id="EXT-RATELIMIT",
    category="udf",
    oracle="""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
walk(user_id, rn, t, event_id, tokens_milli_after, admitted) AS (
  SELECT user_id, rn, t, event_id,
         CAST(2000 - 1000 AS BIGINT), TRUE
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.t, s.event_id,
         CASE WHEN LEAST(2000, w.tokens_milli_after
                               + (s.t - w.t) // 3600000) >= 1000
              THEN LEAST(2000, w.tokens_milli_after
                               + (s.t - w.t) // 3600000) - 1000
              ELSE LEAST(2000, w.tokens_milli_after
                               + (s.t - w.t) // 3600000) END,
         LEAST(2000, w.tokens_milli_after
                     + (s.t - w.t) // 3600000) >= 1000
  FROM seq s JOIN walk w
    ON w.user_id = s.user_id AND s.rn = w.rn + 1
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       CAST(SUM(CASE WHEN admitted THEN event_id ELSE 0 END) AS BIGINT)
         AS admitted_checksum,
       CAST(MIN(tokens_milli_after) AS BIGINT) AS min_tokens_milli
FROM walk GROUP BY user_id ORDER BY user_id
""",
)
def ext_rate_limiter_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-bucket rate limiting with DROPS — the feedback-coupled
    sequential recurrence the Lindley closed form can't express
    (admission consumes tokens, so each decision changes the next
    state): capacity 3 tokens, refill 1 per 10 minutes (integer
    MILLItokens on integer microseconds — exact), an event is
    admitted iff a full token is available. The per-key sequential
    scan shards by user (embarrassingly parallel ACROSS users,
    exactly how a keyed rate limiter shards in production): one
    user-keyed exchange, each partition sorted by (user, ts, id), and
    ONE mapInPandas pass replays every bucket in the partition with
    state carried across Arrow batch boundaries — r11 perf (guide
    §4.2/§4.5): the previous per-group applyInPandas paid a pandas
    sort, two DataFrame constructions and a Python call PER USER;
    the single streaming walk is the identical integer recurrence
    (hash-partitioning puts all of a user's rows in one partition, so
    per-user replay order is unchanged).
    The oracle replays the identical recurrence as a RECURSIVE CTE
    stepping rn -> rn+1 per user — sequential semantics, declaratively
    stated — and per-user admission counts, admitted-id checksums and
    the minimum token level must hash-match. Scale: one user-keyed
    exchange; group iteration is O(events per user)."""
    import pandas as _pd

    e = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
        )
        .repartition("user_id")
        .sortWithinPartitions("user_id", "t", "event_id")
    )

    def bucket_partition(batches):
        cur = None  # live user: [uid, tokens, prev_t, n, n_adm, chk, min_tok]
        out = {
            "user_id": [],
            "n_events": [],
            "n_admitted": [],
            "admitted_checksum": [],
            "min_tokens_milli": [],
        }

        def flush():
            out["user_id"].append(cur[0])
            out["n_events"].append(cur[3])
            out["n_admitted"].append(cur[4])
            out["admitted_checksum"].append(cur[5])
            out["min_tokens_milli"].append(cur[6])

        for pdf in batches:
            for uid, eid, t in zip(
                pdf["user_id"].to_numpy().tolist(),
                pdf["event_id"].to_numpy().tolist(),
                pdf["t"].to_numpy().tolist(),
            ):
                if cur is None or uid != cur[0]:
                    if cur is not None:
                        flush()
                    cur = [uid, 2000, None, 0, 0, 0, None]
                tokens, prev_t = cur[1], cur[2]
                if prev_t is not None:
                    tokens = min(2000, tokens + (t - prev_t) // 3600000)
                if tokens >= 1000:
                    tokens -= 1000
                    cur[4] += 1
                    cur[5] += int(eid)
                cur[3] += 1
                cur[1], cur[2] = tokens, t
                cur[6] = (
                    tokens if cur[6] is None else min(cur[6], tokens)
                )
        if cur is not None:
            flush()
        yield _pd.DataFrame(out)

    return e.mapInPandas(
        bucket_partition,
        "user_id long, n_events long, n_admitted long, "
        "admitted_checksum long, min_tokens_milli long",
    ).orderBy("user_id")
