"""Source/sink queries (SURVEY §2.3 A1–A4, A9, A11 — batch-checkable).

Streaming sources/sinks (A5/A6/A8/A10) are exercised in streaming_q.py;
Kafka (A7) is declared in nibbler_spark.sources.streams behind a flag
(no broker in the test env).

Roundtrip pattern: the Spark callable writes a derived file (CSV/JSON/
parquet) under a deterministic temp path and reads it back; the oracle is
the equivalent query over the original table — so the check validates the
write+read path without the oracle needing to see the temp file.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nibbler_spark.queries import pin, register, scratch_dir
from nibbler_spark.queries._helpers import spread
from nibbler_spark.sources import load_table


def _tmp(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(tempfile.gettempdir(), f"nibbler-{tag}-{name}")


@register(
    "a01_parquet_scan",
    survey_id="A1",
    category="source-sink",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
)
def a01_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet batch scan."""
    return load_table(spark, sf_dir, "region").orderBy("r_regionkey")


@register(
    "a02_csv_roundtrip",
    survey_id="A2",
    category="source-sink",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def a02_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan with header and explicit schema."""
    path = _tmp(sf_dir, "nation-csv")
    n = load_table(spark, sf_dir, "nation")
    n.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", "true")
        .csv(path)
        .orderBy("n_nationkey")
    )


@register(
    "a03_jsonl_roundtrip",
    survey_id="A3",
    category="source-sink",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
)
def a03_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan with explicit schema (schema declared, not
    inferred — the contract for production reads)."""
    path = _tmp(sf_dir, "supplier-json")
    s = load_table(spark, sf_dir, "supplier")
    s.coalesce(1).write.mode("overwrite").json(path)
    return (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
        )
        .json(path)
        .orderBy("s_suppkey")
    )


@register(
    "a04_in_memory_rows",
    survey_id="A4",
    category="source-sink",
    oracle="""
SELECT id, name, CAST(score AS DOUBLE) AS score FROM (VALUES
  (1, 'alpha', 1.5), (2, 'beta', -2.25), (3, NULL, 0.0)
) AS t(id, name, score) ORDER BY id
""",
)
def a04_in_memory_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """createDataFrame from driver-side rows with an explicit schema."""
    return spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.25), (3, None, 0.0)],
        "id int, name string, score double",
    ).orderBy("id")


@register(
    "a09_parquet_sink_roundtrip",
    survey_id="A9",
    category="source-sink",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderstatus = 'F' ORDER BY o_orderkey
""",
)
def a09_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet batch sink + re-read (values and types survive the
    roundtrip bit-exactly)."""
    path = _tmp(sf_dir, "orders-f-parquet")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    o.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path).orderBy("o_orderkey")


@register(
    "a11_push_receiver_spool",
    survey_id="A11",
    category="source-sink",
    mode="golden",
    oracle="""
SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three'))
AS t(seq, value) ORDER BY seq
""",
)
def a11_push_receiver_spool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The push receiver's spool format (R15/A11): items written by
    FileDropReceiver are readable as schema'd JSON with their sequence
    numbers intact."""
    from nibbler_spark.streaming.transport import FileDropReceiver

    d = scratch_dir("a11")
    rx = FileDropReceiver(d)
    rx.send("one")
    rx.send_many(["two", "three"])
    return (
        spark.read.schema("__seq long, value string")
        .json(d)
        .select(F.col("__seq").alias("seq"), "value")
        .orderBy("seq")
    )


@register(
    "a12_python_datasource",
    survey_id="A12",
    category="source-sink",
    oracle="""
SELECT k AS id, k * 2 + 1 AS doubled, 'row' || CAST(k AS VARCHAR) AS tag
FROM generate_series(0, 999) AS t(k)
ORDER BY id
""",
)
def a12_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (Spark 4 pyspark.sql.datasource): the
    engine's batch-side "bring your own source" hook, mirroring the
    reference's bring-your-own-channel ingestion
    (/root/reference/nibbler.go:120-122) in idiomatic Spark. The reader
    declares 8 input partitions, so generation executes in parallel on
    executors with zero driver materialization — the scale path for any
    API-backed or generated ingest."""
    from nibbler_spark.sources.pydatasource import register_synth_source

    register_synth_source(spark)
    return (
        spark.read.format("nibbler_synth")
        .option("rows", "1000")
        .option("partitions", "8")
        .load()
        .orderBy("id")
    )


@register(
    "a13_observed_metrics",
    survey_id="A13",
    category="source-sink",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders WHERE o_orderstatus = 'O'
""",
)
def a13_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed metrics (df.observe + Observation): named aggregates
    piggy-back on a query's execution and surface on the driver without
    a second scan — the operational telemetry hook (row counts, quality
    gauges) a 100 TB pipeline attaches to every stage. The declared
    result returns the observed values themselves, checked against the
    straightforward aggregate."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "O"
    )
    obs = Observation("orders_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [(row["n_rows"], row["sum_price"])],
        "n_rows bigint, sum_price double",
    )


@register(
    "a14_schema_evolution_merge",
    survey_id="A14",
    category="source-sink",
    oracle="""
SELECT r_regionkey, r_name, tier FROM (
  SELECT r_regionkey, r_name, NULL AS tier FROM region
  UNION ALL
  SELECT r_regionkey, r_name,
         CASE WHEN r_regionkey % 2 = 0 THEN 'gold' ELSE 'silver' END AS tier
  FROM region
) ORDER BY r_regionkey, tier NULLS FIRST
""",
)
def a14_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations — the second
    adds a `tier` column — merged with mergeSchema=true; old-generation
    rows surface NULL for the new column. The everyday reality of a
    long-lived 100 TB lake where writers evolve independently; schema
    merge happens at footer-reconciliation time, not via rewrite."""
    base = scratch_dir("a14")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    r.write.mode("overwrite").parquet(base + "/gen=1")
    r.withColumn(
        "tier",
        F.when(F.col("r_regionkey") % 2 == 0, "gold").otherwise("silver"),
    ).write.mode("overwrite").parquet(base + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    return merged.select("r_regionkey", "r_name", "tier").orderBy(
        "r_regionkey", F.col("tier").asc_nulls_first()
    )


@register(
    "a15_cached_relation_reuse",
    survey_id="A15",
    category="source-sink",
    oracle="""
WITH agg AS (
  SELECT o_orderstatus, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
  FROM orders GROUP BY o_orderstatus
)
SELECT a.o_orderstatus, a.n, a.total,
       CAST(CAST(a.total / b.grand AS DECIMAL(18,10)) AS DOUBLE) AS share
FROM agg a CROSS JOIN (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                                   AS DOUBLE) AS grand FROM orders) b
ORDER BY a.o_orderstatus
""",
)
def a15_cached_relation_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar caching: an aggregate consumed twice (per-group rows +
    grand total for shares) is persisted once — the second consumer
    reads the in-memory columnar relation instead of rescanning parquet.
    At 100 TB cache() is the difference between one scan and N for
    multi-consumer DAGs (use MEMORY_AND_DISK; partitions spill). The
    grand total is derived FROM the cached aggregate (sum of identical
    doubles, deterministic order via sort inside the reduce — here via a
    second exact-decimal pass to stay order-free). The result is pinned
    and the cache released before returning, so no cached plan outlives
    the call."""
    o = load_table(spark, sf_dir, "orders")
    from nibbler_spark.queries._helpers import dec

    agg = (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
        .cache()
    )
    grand = o.agg(
        F.sum(dec("o_totalprice")).cast("double").alias("grand")
    )
    try:
        return pin(
            agg.crossJoin(F.broadcast(grand))
            .select(
                "o_orderstatus",
                "n",
                "total",
                (F.col("total") / F.col("grand"))
                .cast("decimal(18,10)")
                .cast("double")
                .alias("share"),
            )
        ).orderBy("o_orderstatus")
    finally:
        agg.unpersist()


@register(
    "a17_orc_roundtrip",
    survey_id="A17",
    category="source-sink",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
WHERE o_orderstatus = 'O' ORDER BY o_orderkey
""",
)
def a17_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC batch sink + re-read — the third columnar container after
    parquet and the text formats. ORC keeps its own type system
    (DATE/TIMESTAMP/DECIMAL encodings differ from parquet), so the
    roundtrip proving values and types survive bit-exactly is a real
    check, not a copy of A9; the oracle reads the original parquet
    through DuckDB, so any ORC encode/decode drift hash-fails."""
    path = _tmp(sf_dir, "orders-o-orc")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "O"
    )
    o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    ).write.mode("overwrite").orc(path)
    return spark.read.orc(path).orderBy("o_orderkey")


def _a18_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body of a18 (kept separate so tests can reuse it)."""
    import pandas as pd

    from nibbler_spark.operators.avro_codec import (
        decode_container,
        encode_container,
    )

    fields = [
        ("event_id", "long"),
        ("user_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
    ]

    def encode(batches):
        for pdf in batches:
            rows = list(
                zip(
                    pdf["event_id"],
                    pdf["user_id"],
                    pdf["event_type"],
                    pdf["value"],
                )
            )
            yield pd.DataFrame(
                {
                    "avro": [
                        encode_container(
                            rows, fields, name="Event", codec="deflate"
                        )
                    ]
                }
            )

    def decode(batches):
        for pdf in batches:
            for buf in pdf["avro"]:
                got_fields, rows = decode_container(bytes(buf))
                assert [n for n, _ in got_fields] == [n for n, _ in fields]
                yield pd.DataFrame(
                    rows, columns=[n for n, _ in fields]
                ).astype(
                    {"event_id": "int64", "user_id": "int64"}
                )

    e = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .transform(spread)
    )
    encoded = e.mapInPandas(encode, "avro binary")
    return encoded.mapInPandas(
        decode,
        "event_id long, user_id long, event_type string, value double",
    ).orderBy("event_id")


@register(
    "a19_avro_datasource",
    survey_id="A19",
    category="source-sink",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
WHERE event_type IN ('click', 'purchase') ORDER BY event_id
""",
)
def a19_avro_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro as a FIRST-CLASS Spark source/sink: `format("nibbler_avro")`
    is a registered Spark 4 Python DataSource whose reader and writer
    delegate to the spec-derived OCF codec — closing even the
    DataSource-registration sliver of the Avro gap (`spark-avro` is
    absent from the env). The writer encodes each task partition into
    its own deflate-compressed container file and commits via the
    two-phase write/commit/abort protocol; the reader declares one
    input partition per file, so decode parallelism tracks the layout
    and payload bytes never pass through the driver. The roundtrip
    through the plain `df.write.format(...)` / `spark.read.format(...)`
    surface must hash-match the original parquet."""
    from nibbler_spark.sources.avro_datasource import register_avro_source

    register_avro_source(spark)
    path = _tmp(sf_dir, "events-avro-ds")
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type", "value")
        .repartition(4)
    )
    e.write.format("nibbler_avro").mode("overwrite").option(
        "path", path
    ).save()
    return (
        spark.read.format("nibbler_avro")
        .option("path", path)
        .load()
        .orderBy("event_id")
    )


@register(
    "a18_avro_roundtrip",
    survey_id="A18",
    category="source-sink",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id
""",
)
def a18_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro interchange without spark-avro: a dependency-free Object
    Container File codec written from the public Avro spec (the
    multimodal-parser discipline applied to the remaining format gap —
    zigzag varints, length-prefixed UTF-8, little-endian doubles, sync-
    marked blocks, schema carried in the metadata map). Each partition
    encodes its rows into one complete OCF payload in an Arrow
    mapInPandas stage; a second stage parses the payloads back using
    only the embedded schema. The roundtrip must reproduce the events
    table bit-exactly (hash oracle over the original parquet), so any
    encode/decode drift — varint, zigzag, double endianness, block
    framing — hash-fails. Both stages are narrow (no shuffle); at
    100 TB this is the binary-carriage pattern: bytes stream through
    Python workers batch-by-batch, never via the driver."""
    return _a18_impl(spark, sf_dir)


@register(
    "a21_avro_schema_evolution",
    survey_id="A21",
    category="source-sink",
    oracle="""
SELECT event_id, user_id, value,
       CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END
         AS event_type
FROM events ORDER BY event_id
""",
)
def a21_avro_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro SCHEMA EVOLUTION (spec §Schema Resolution) through the OCF
    codec: the same corpus is written under TWO writer schema versions —
    v1 (even event_ids) stores (event_id int, user_id int, value
    double) with no event_type; v2 (odd event_ids) reorders fields,
    widens the ids to long, carries event_type, and adds an extra
    writer-only field — and ONE reader schema decodes both:
    int→long promotion, by-name field matching across the reorder,
    the v1 rows filling event_type from the reader default 'unknown',
    and v2's extra field skipped. The merged result hash-matches the
    oracle's CASE reconstruction, so every resolution rule is value-
    checked, not just exercised (mirrors a14_schema_evolution_merge
    for the parquet surface). Both stages are narrow mapInPandas
    (Arrow batches, no shuffle, no driver bytes)."""
    import pandas as pd

    from nibbler_spark.operators.avro_codec import (
        decode_container,
        encode_container,
    )

    v1_fields = [
        ("event_id", "int"),
        ("user_id", "int"),
        ("value", "double"),
    ]
    v2_fields = [
        ("event_type", "string"),
        ("value", "double"),
        ("schema_rev", "int"),  # writer-only: reader must skip it
        ("event_id", "long"),
        ("user_id", "long"),
    ]
    reader = [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "value", "type": "double"},
        {"name": "event_type", "type": "string", "default": "unknown"},
    ]

    def encode(batches):
        for pdf in batches:
            even = pdf[pdf.event_id % 2 == 0]
            odd = pdf[pdf.event_id % 2 == 1]
            payloads = []
            if len(even):
                payloads.append(
                    encode_container(
                        list(
                            zip(
                                even.event_id.astype(int),
                                even.user_id.astype(int),
                                even.value,
                            )
                        ),
                        v1_fields,
                    )
                )
            if len(odd):
                payloads.append(
                    encode_container(
                        list(
                            zip(
                                odd.event_type,
                                odd.value,
                                [2] * len(odd),
                                odd.event_id.astype(int),
                                odd.user_id.astype(int),
                            )
                        ),
                        v2_fields,
                        codec="deflate",
                    )
                )
            if payloads:
                yield pd.DataFrame({"avro": payloads})

    def decode(batches):
        names = [rf["name"] for rf in reader]
        for pdf in batches:
            for buf in pdf["avro"]:
                fields, rows = decode_container(
                    bytes(buf), reader_fields=reader
                )
                assert [n for n, _ in fields] == names
                yield pd.DataFrame(rows, columns=names).astype(
                    {"event_id": "int64", "user_id": "int64"}
                )

    e = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "event_type")
        .transform(spread)
    )
    encoded = e.mapInPandas(encode, "avro binary")
    return encoded.mapInPandas(
        decode,
        "event_id long, user_id long, value double, event_type string",
    ).orderBy("event_id")


@register(
    "a23_csv_malformed_modes",
    survey_id="EXT-CSV-MODES",
    category="source-sink",
    mode="bounded",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders) AS n_permissive,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 7)
         AS n_corrupt,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 <> 7)
         AS n_dropmalformed,
       (SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                    AS BIGINT)
        FROM orders WHERE o_orderkey % 13 <> 7) AS good_cents,
       TRUE AS failfast_raises
""",
)
def a23_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three CSV malformed-row policies, exercised on a corpus
    where every 13th order's price is replaced by unparseable garbage:
    PERMISSIVE keeps every line and captures the raw text of bad ones
    in `_corrupt_record` (nulls for the unparseable fields) — the
    quarantine-and-continue mode a 100 TB ingest wants; DROPMALFORMED
    silently keeps only the clean rows (their cents sum hash-matches
    the oracle's modulus filter — proving exactly the right rows
    survived); FAILFAST raises on the first bad record (asserted via a
    caught action). Parsing policy is per-task and row-local — no mode
    changes the scan's distribution."""
    tmp = os.path.join(scratch_dir("csvmodes"), "tmp")
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey"),
            F.when(
                F.col("o_orderkey") % 13 == 7, F.lit("NOT_A_PRICE")
            ).otherwise(F.col("o_totalprice").cast("string")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(tmp)

    schema = "o_orderkey BIGINT, o_totalprice DOUBLE, _corrupt_record STRING"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(tmp)
        .cache()
    )
    n_permissive = permissive.count()
    n_corrupt = permissive.where(
        F.col("_corrupt_record").isNotNull()
    ).count()
    dropped = (
        spark.read.schema("o_orderkey BIGINT, o_totalprice DOUBLE")
        .option("mode", "DROPMALFORMED")
        .csv(tmp)
    )
    agg = dropped.agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    ).first()
    failfast_raises = False
    # The abort is the asserted behavior — mute the executor/taskset
    # ERROR lines Spark logs for the intentional task failure so clean
    # sweep logs stay signal (restored right after; the exception is
    # still raised and caught).
    sc = spark.sparkContext
    prior_level = (
        sc._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
        .getLevel()
        .toString()
    )
    sc.setLogLevel("OFF")
    try:
        spark.read.schema(
            "o_orderkey BIGINT, o_totalprice DOUBLE"
        ).option("mode", "FAILFAST").csv(tmp).collect()
    except Exception:
        failfast_raises = True
    finally:
        sc.setLogLevel(prior_level)
    permissive.unpersist()
    return spark.createDataFrame(
        [
            (
                n_permissive,
                n_corrupt,
                agg["n"],
                agg["cents"],
                bool(failfast_raises),
            )
        ],
        "n_permissive BIGINT, n_corrupt BIGINT, n_dropmalformed BIGINT, "
        "good_cents BIGINT, failfast_raises BOOLEAN",
    )


@register(
    "a26_xml_datasource",
    survey_id="EXT-XML-DS",
    category="source-sink",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice,
       o_totalprice > 200000 AS is_large
FROM orders WHERE o_custkey % 20 = 0 ORDER BY o_orderkey
""",
)
def a26_xml_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML as a FIRST-CLASS Spark source/sink: `format("nibbler_xml")`
    is a registered Spark 4 Python DataSource over stdlib xml.etree —
    closing the spark-xml env gap exactly the way `nibbler_avro`
    closed spark-avro's (a19). Flat <rows><row><col>… documents; NULL
    = absent element; doubles serialize via repr (shortest exact
    decimal) so the roundtrip is bit-lossless; typed reads come from
    the `ddl` option. Writer: one document per task partition,
    two-phase commit (temp file → driver-side rename). Reader: one
    input partition per file — parse parallelism tracks layout,
    payload bytes never cross the driver. The full write→read
    roundtrip through the ordinary format() surface must hash-match
    the source parquet, booleans and all."""
    from nibbler_spark.sources.xml_datasource import register_xml_source

    register_xml_source(spark)
    path = _tmp(sf_dir, "orders-xml-ds")
    ddl = (
        "o_orderkey bigint, o_orderpriority string, "
        "o_totalprice double, is_large boolean"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 20 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            (F.col("o_totalprice") > 200000).alias("is_large"),
        )
        .repartition(4)
    )
    o.write.format("nibbler_xml").mode("overwrite").option(
        "path", path
    ).save()
    return (
        spark.read.format("nibbler_xml")
        .option("path", path)
        .option("ddl", ddl)
        .load()
        .orderBy("o_orderkey")
    )


@register(
    "a27_text_log_parsing",
    survey_id="EXT-TEXT-SOURCE",
    category="source-sink",
    oracle="""
SELECT event_type AS method,
       COUNT(*) AS n_requests,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
         AS total_bytes
FROM events WHERE user_id % 30 = 0
GROUP BY event_type ORDER BY method
""",
)
def a27_text_log_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The log-ingestion shape: unstructured text lines →
    `spark.read.text` → regexp_extract into typed columns → aggregate.
    Access-log-style lines are first WRITTEN via the text sink (one
    string column per line — the write side of the format), then
    parsed back with anchored regex groups; the grouped result must
    hash-match the structured source the lines were rendered from.
    Scale: text scan + regex extraction are row-local (whole-stage
    codegen, no Python); this is the standard first stage in front of
    every curation pipeline when upstream data arrives as raw lines."""
    path = _tmp(sf_dir, "events-textlog")
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 30 == 0
    )
    lines = e.select(
        F.concat(
            F.lit("evt id="),
            F.col("event_id").cast("string"),
            F.lit(" method="),
            F.col("event_type"),
            F.lit(" bytes="),
            F.floor(F.col("value") * 100).cast("bigint").cast("string"),
        ).alias("value")
    )
    lines.coalesce(2).write.mode("overwrite").text(path)
    parsed = spark.read.text(path).select(
        F.regexp_extract("value", r"method=(\w+)", 1).alias("method"),
        F.regexp_extract("value", r"bytes=(\d+)", 1)
        .cast("bigint")
        .alias("bytes"),
    )
    return (
        parsed.groupBy("method")
        .agg(
            F.count("*").alias("n_requests"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy("method")
    )


@register(
    "a28_csv_multiline_quoted",
    survey_id="EXT-CSV-MULTILINE",
    category="source-sink",
    oracle="""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN text LIKE '%\n%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_multiline,
       TRUE AS roundtrip_exact
FROM (SELECT doc_id, replace(text, '. ', '.' || chr(10)) AS text FROM d)
""",
)
def a28_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline quoted CSV — the edge that silently corrupts naive
    ingestion: fields containing EMBEDDED NEWLINES are legal CSV when
    quoted, but the default line-splitting reader shreds them into
    garbage rows; `multiLine=true` switches to a record-aware parser.
    Documents get newlines injected, round-trip through quoted CSV,
    and must come back byte-exact (count, char volume, per-row
    equality folded into the boolean). Scale: multiLine costs file-
    level (not line-level) split granularity — the documented
    trade-off; keep multiline payloads in parquet at 100 TB, but the
    ingestion path must still read them correctly when they arrive."""
    path = _tmp(sf_dir, "docs-multiline-csv")
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 11 == 0)
        .select(
            "doc_id",
            F.regexp_replace("text", r"\. ", ".\n").alias("text"),
        )
    )
    d.coalesce(2).write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(path)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .schema("doc_id long, text string")
        .csv(path)
    )
    joined = d.alias("a").join(
        back.alias("b"), "doc_id", "full_outer"
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.length("a.text")).cast("bigint").alias("total_chars"),
        F.sum(
            F.when(F.col("a.text").contains("\n"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_multiline"),
        F.bool_and(
            F.col("a.text").eqNullSafe(F.col("b.text"))
        ).alias("roundtrip_exact"),
    )


@register(
    "a30_parquet_compression_codecs",
    survey_id="EXT-PARQUET-CODECS",
    category="source-sink",
    oracle="""
WITH d AS (
  SELECT event_id, event_type, value FROM events WHERE user_id % 20 = 0
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM d
)
SELECT 'gzip' AS codec, n_rows, total_cents, TRUE AS smaller_than_none
FROM agg
UNION ALL SELECT 'snappy', n_rows, total_cents, TRUE FROM agg
UNION ALL SELECT 'zstd', n_rows, total_cents, TRUE FROM agg
ORDER BY codec
""",
)
def a30_parquet_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec matrix — the storage knob that moves
    real money at 100 TB: the same slice writes under snappy
    (decode-speed default), gzip, and zstd (the modern
    ratio/speed sweet spot), every variant must read back
    value-identical, and every compressed variant must be smaller on
    disk than an uncompressed write (asserted per codec). Codec choice
    is a pure storage-layer property — plans, stats, and pruning are
    unaffected, which is exactly why it is safe to tune per table."""
    import os

    d = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 20 == 0)
        .select("event_id", "event_type", "value")
    )

    def write_size(codec: str) -> tuple[str, int]:
        path = _tmp(sf_dir, f"events-codec-{codec}")
        d.coalesce(1).write.mode("overwrite").option(
            "compression", codec
        ).parquet(path)
        size = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        return path, size

    _, none_size = write_size("none")
    parts = []
    for codec in ("gzip", "snappy", "zstd"):
        path, size = write_size(codec)
        back = spark.read.parquet(path)
        parts.append(
            back.agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.floor(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("total_cents"),
            ).select(
                F.lit(codec).alias("codec"),
                "n_rows",
                "total_cents",
                F.lit(bool(size < none_size)).alias("smaller_than_none"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("codec")


@register(
    "a31_msgpack_roundtrip",
    survey_id="A31",
    category="source-sink",
    oracle="""
SELECT o_orderkey,
       o_orderpriority,
       o_totalprice,
       o_orderkey % 2 = 0 AS even_key,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE o_orderkey % 97 END AS opt_val,
       string_split(o_orderpriority, '-')[1] AS pri_code,
       CAST(o_orderkey % 7 AS BIGINT) AS meta_m
FROM orders ORDER BY o_orderkey
""",
)
def a31_msgpack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack serde roundtrip — the wire format event buses and
    RPC payloads actually arrive in, via a dependency-free from-spec
    codec (`operators/msgpack_codec.py`; spec vectors pinned in
    tests). Stage 1 packs each order row into a msgpack MAP exercising
    every family the spec defines — ints (fixint through uint64
    widths chosen canonically), str, float64, bool, nil, a nested
    array and a nested map; stage 2 unpacks the blobs back into typed
    columns that must reproduce the source table bit-for-bit
    (float64 is lossless through the codec). Both stages are
    partition-local mapInPandas — the 100 TB shape for serde: blobs
    never cross the driver, and a real deployment would point the
    same unpack stage at Kafka value bytes."""
    import pandas as _pd

    from nibbler_spark.operators.msgpack_codec import pack, unpack

    # spread(): both msgpack stages are per-row Python work that would
    # otherwise serialize on the 1-split local scan.
    o = spread(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
    )

    def enc(batches):
        for pdf in batches:
            blobs = []
            for k, pri, price in zip(
                pdf["o_orderkey"], pdf["o_orderpriority"], pdf["o_totalprice"]
            ):
                k = int(k)
                blobs.append(
                    pack(
                        {
                            "k": k,
                            "pri": str(pri),
                            "price": float(price),
                            "even": k % 2 == 0,
                            "opt": None if k % 5 == 0 else k % 97,
                            "tags": str(pri).split("-"),
                            "meta": {"m": k % 7},
                        }
                    )
                )
            yield _pd.DataFrame({"blob": blobs})

    packed = o.mapInPandas(enc, "blob binary")

    def dec(batches):
        for pdf in batches:
            rows = [unpack(bytes(b)) for b in pdf["blob"]]
            yield _pd.DataFrame(
                {
                    "o_orderkey": [r["k"] for r in rows],
                    "o_orderpriority": [r["pri"] for r in rows],
                    "o_totalprice": [r["price"] for r in rows],
                    "even_key": [r["even"] for r in rows],
                    "opt_val": [r["opt"] for r in rows],
                    "pri_code": [r["tags"][0] for r in rows],
                    "meta_m": [r["meta"]["m"] for r in rows],
                }
            )

    # localCheckpoint: the final sort's range-sampling job would run
    # BOTH chained msgpack Python stages twice (j04 A/B precedent).
    return pin(packed.mapInPandas(
        dec,
        "o_orderkey long, o_orderpriority string, o_totalprice double, "
        "even_key boolean, opt_val bigint, pri_code string, meta_m long",
    )).orderBy("o_orderkey")


@register(
    "a32_fixed_width_roundtrip",
    survey_id="A32",
    category="source-sink",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
FROM orders ORDER BY o_orderkey
""",
)
def a32_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text files — the mainframe/COBOL layout financial
    feeds still arrive in: each order becomes one 40-byte record
    (12-char zero-padded key, 1-char status, 15-char right-padded
    priority, 12-char zero-padded cents), written via a pure-SQL
    lpad/rpad/concat projection to a text sink; the read path is
    `spark.read.text` plus SUBSTRING column carving and casts — both
    directions entirely JVM-side codegen, no UDF, which is what makes
    fixed-width viable at 100 TB (the scan parallelizes like any text
    source, the carve is a map-side projection). The recovered table
    must hash-match the source columns including the exact cents."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    rec = o.select(
        F.concat(
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
            F.col("o_orderstatus"),
            F.rpad(F.col("o_orderpriority"), 15, " "),
            F.lpad(
                F.floor(F.col("o_totalprice") * 100)
                .cast("bigint")
                .cast("string"),
                12,
                "0",
            ),
        ).alias("value")
    )
    out = _tmp(sf_dir, "fixed-width")
    rec.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.select(
        F.substring("value", 1, 12).cast("bigint").alias("o_orderkey"),
        F.substring("value", 13, 1).alias("o_orderstatus"),
        F.rtrim(F.substring("value", 14, 15)).alias("o_orderpriority"),
        F.substring("value", 29, 12).cast("bigint").alias("cents"),
    ).orderBy("o_orderkey")


@register(
    "a33_gzip_text_roundtrip",
    survey_id="A33",
    category="source-sink",
    oracle="""
SELECT o_orderkey, o_orderpriority
FROM orders ORDER BY o_orderkey
""",
)
def a33_gzip_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed text ingestion — the format crawl dumps and
    legacy log archives actually arrive in: the write path emits
    `.txt.gz` part files (Hadoop gzip codec), the read path
    decompresses transparently off the file extension. The important
    SCALE caveat this query documents: gzip is NOT splittable — each
    .gz file becomes exactly one input partition regardless of size
    (asserted below: partitions == files), which is why 100 TB
    pipelines shard gzip inputs into many files (or re-encode to a
    splittable codec) before heavy processing. Line format is
    key|priority; the carve is JVM-side split()."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    rec = o.select(
        F.concat_ws(
            "|", F.col("o_orderkey").cast("string"), "o_orderpriority"
        ).alias("value")
    )
    out = _tmp(sf_dir, "gzip-text")
    rec.repartition(4).write.mode("overwrite").option(
        "compression", "gzip"
    ).text(out)
    n_gz = len(
        [f for f in os.listdir(out) if f.endswith(".txt.gz")]
    )
    back = spark.read.text(out)
    # gzip is unsplittable: one partition per .gz file, never more
    assert back.rdd.getNumPartitions() == n_gz, (
        back.rdd.getNumPartitions(),
        n_gz,
    )
    parts = F.split("value", "\\|")
    return back.select(
        parts.getItem(0).cast("bigint").alias("o_orderkey"),
        parts.getItem(1).alias("o_orderpriority"),
    ).orderBy("o_orderkey")


@register(
    "a34_msgpack_datasource",
    survey_id="A34",
    category="source-sink",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE o_orderkey % 97 END AS opt_val
FROM orders ORDER BY o_orderkey
""",
)
def a34_msgpack_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack as a REGISTERED Spark DataSource —
    `format("nibbler_msgpack")` write and read through the Spark 4
    Python DataSource API (the avro/xml pattern, third instance):
    the writer encodes each task partition as a concatenated stream
    of msgpack maps under two-phase commit (temp files publish only
    at driver commit), the reader lists file names driver-side and
    declares ONE INPUT PARTITION PER FILE — executor-side decoding
    through the from-spec codec, zero payload bytes on the driver.
    NULLs travel as absent map keys; float64 is lossless. The
    recovered table hash-matches the source."""
    from nibbler_spark.sources.msgpack_datasource import (
        register_msgpack_source,
    )

    register_msgpack_source(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_orderkey") % 97)
        .cast("bigint")
        .alias("opt_val"),
    )
    out = _tmp(sf_dir, "msgpack-ds")
    o.repartition(4).write.format("nibbler_msgpack").mode(
        "overwrite"
    ).option("path", out).save()
    ddl = (
        "o_orderkey bigint, o_orderstatus string, "
        "o_totalprice double, opt_val bigint"
    )
    back = (
        spark.read.format("nibbler_msgpack")
        .option("path", out)
        .option("ddl", ddl)
        .load()
    )
    assert back.rdd.getNumPartitions() == 4  # one partition per file
    # localCheckpoint: the final sort's range-sampling job would run
    # the Python-datasource decode twice (j04 A/B precedent).
    return pin(back).orderBy("o_orderkey")


@register(
    "a35_tfrecord_roundtrip",
    survey_id="A35",
    category="source-sink",
    oracle="""
SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id
""",
)
def a35_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord shards — THE classic training-data shard format
    (TensorFlow's record framing: per-record length + MASKED CRC32C
    over both length and payload, implemented from the public spec in
    `operators/tfrecord_codec.py` with the Castagnoli table built
    from scratch; RFC 3720 check values pinned in tests). Each task
    partition packs its documents as msgpack maps inside ONE TFRecord
    blob (the shard), a second Arrow stage walks the framing back —
    verifying every checksum — and the recovered corpus must
    hash-match the source. Corrupt-byte and truncation detection are
    what the double CRC buys at 100 TB: a flipped bit in a shard
    fails loudly at read time instead of training on garbage. Both
    stages partition-local; shards never cross the driver."""
    import pandas as _pd

    from nibbler_spark.operators.msgpack_codec import pack, unpack
    from nibbler_spark.operators.tfrecord_codec import (
        read_tfrecords,
        write_tfrecords,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )

    def enc(batches):
        for pdf in batches:
            recs = [
                pack({"d": int(i), "l": str(lg), "n": int(nc)})
                for i, lg, nc in zip(
                    pdf["doc_id"], pdf["lang"], pdf["n_chars"]
                )
            ]
            yield _pd.DataFrame({"shard": [write_tfrecords(recs)]})

    shards = d.mapInPandas(enc, "shard binary")

    def dec(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["shard"]:
                for rec in read_tfrecords(bytes(blob)):
                    rows.append(unpack(rec))
            yield _pd.DataFrame(
                {
                    "doc_id": [r["d"] for r in rows],
                    "lang": [r["l"] for r in rows],
                    "n_chars": [r["n"] for r in rows],
                }
            )

    return shards.mapInPandas(
        dec, "doc_id long, lang string, n_chars bigint"
    ).orderBy("doc_id")


@register(
    "a36_protobuf_wire_roundtrip",
    survey_id="A36",
    category="source-sink",
    oracle="""
SELECT o_orderkey,
       o_orderstatus,
       o_totalprice,
       -(o_orderkey % 50) AS signed_val,
       o_orderkey % 2 = 0 AS flag
FROM orders ORDER BY o_orderkey
""",
)
def a36_protobuf_wire_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Protocol Buffers WIRE FORMAT roundtrip — `from_protobuf`/
    `to_protobuf` need google.protobuf, which this environment lacks
    (verified ImportError), so the gap closes the Avro way: a
    dependency-free codec written from the public encoding spec
    (`operators/protobuf_wire.py` — tag/wire-type bytes, base-128
    varints incl. the 10-byte two's-complement negative int64, ZigZag
    sint64, fixed64 doubles, length-delimited strings; spec vectors
    `08 96 01` / `12 07 "testing"` pinned in tests). Each order row
    encodes as one message in an Arrow stage; the decode stage reads
    it back through a FIELD-NUMBER SCHEMA while the writer also emits
    an extra field the reader doesn't know — exercised here because
    unknown-field skip is protobuf's forward-compatibility contract.
    Recovered table hash-matches the source. Partition-local both
    directions."""
    import pandas as _pd

    from nibbler_spark.operators.protobuf_wire import (
        decode_message,
        encode_message,
    )

    # spread(): both protobuf stages are per-row Python work that would
    # otherwise serialize on the 1-split local scan.
    o = spread(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )

    def enc(batches):
        for pdf in batches:
            blobs = []
            for k, st, price in zip(
                pdf["o_orderkey"], pdf["o_orderstatus"], pdf["o_totalprice"]
            ):
                k = int(k)
                blobs.append(
                    encode_message(
                        [
                            (1, "int64", k),
                            (2, "string", str(st)),
                            (3, "double", float(price)),
                            (4, "sint64", -(k % 50)),
                            (5, "bool", k % 2 == 0),
                            # a field this reader's schema won't know:
                            (99, "string", "from-a-newer-writer"),
                        ]
                    )
                )
            yield _pd.DataFrame({"blob": blobs})

    packed = o.mapInPandas(enc, "blob binary")
    schema = {1: "int64", 2: "string", 3: "double", 4: "sint64", 5: "bool"}

    def dec(batches):
        for pdf in batches:
            rows = [decode_message(bytes(b), schema) for b in pdf["blob"]]
            yield _pd.DataFrame(
                {
                    "o_orderkey": [r[1] for r in rows],
                    "o_orderstatus": [r[2] for r in rows],
                    "o_totalprice": [r[3] for r in rows],
                    "signed_val": [r[4] for r in rows],
                    "flag": [r[5] for r in rows],
                }
            )

    # localCheckpoint: the final sort's range-sampling job would run
    # both protobuf Python stages twice (j04 A/B precedent).
    return pin(packed.mapInPandas(
        dec,
        "o_orderkey long, o_orderstatus string, o_totalprice double, "
        "signed_val long, flag boolean",
    )).orderBy("o_orderkey")


@register(
    "a37_lz4_block_roundtrip",
    survey_id="A37",
    category="source-sink",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS payload_md5,
       TRUE AS roundtrip_ok,
       TRUE AS bounded_ok
FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id
""",
)
def a37_lz4_block_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ4 BLOCK-FORMAT codec from the public spec
    (operators/compression.py: greedy 4-byte-hash matcher, token /
    extended-length / offset sequences, overlap-safe match copies,
    spec end conditions) — the fourth from-scratch compression family
    after DEFLATE-zlib, LZW, and RLE. Each even document's text
    compresses and decompresses inside one Arrow stage; the query
    emits the DECOMPRESSED payload's md5 (closed-form for the oracle)
    plus two in-stage proofs: byte-exact roundtrip and the format's
    worst-case expansion bound (≤ n + n/255 + 16). Partition-local,
    zero shuffles — the shape a 100 TB block-compression pass has."""
    import hashlib as _hashlib

    import pandas as _pd

    from nibbler_spark.operators.compression import (
        lz4_compress,
        lz4_decompress,
    )

    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0
    ).select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            out = {
                "doc_id": [],
                "n_chars": [],
                "payload_md5": [],
                "roundtrip_ok": [],
                "bounded_ok": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                z = lz4_compress(raw)
                back = lz4_decompress(z, len(raw))
                out["doc_id"].append(int(doc_id))
                out["n_chars"].append(len(raw))
                out["payload_md5"].append(
                    _hashlib.md5(back).hexdigest()
                )
                out["roundtrip_ok"].append(back == raw)
                out["bounded_ok"].append(
                    len(z) <= len(raw) + len(raw) // 255 + 16
                )
            yield _pd.DataFrame(out)

    return d.mapInPandas(
        run,
        "doc_id long, n_chars long, payload_md5 string, "
        "roundtrip_ok boolean, bounded_ok boolean",
    ).orderBy("doc_id")


@register(
    "a38_delta_binary_packed",
    survey_id="A38",
    category="source-sink",
    oracle="""
SELECT CAST(o_orderkey // 4096 AS BIGINT) AS bucket,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n,
       CAST(SUM(DISTINCT o_orderkey) AS BIGINT) AS key_sum,
       TRUE AS packed_smaller
FROM orders GROUP BY 1 ORDER BY bucket
""",
)
def a38_delta_binary_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet's DELTA_BINARY_PACKED integer encoding from the public
    encodings spec (operators/compression.py: zigzag varint header,
    per-block min-delta, 4 per-miniblock bit widths, LSB-first
    bit-packed adjusted deltas) — the encoding that makes sorted key
    columns nearly free on disk. Per 4096-key bucket the distinct
    sorted orderkeys pack, unpack, and must roundtrip exactly; the
    emitted key count and sum are closed-form for the oracle, and
    `packed_smaller` asserts in-stage that the packed bytes undercut
    raw int64 (sorted runs pack to a few bits per value). The
    encode/verify runs per group via applyInPandas — the partition-
    local shape of a columnar writer's encoding stage."""
    import pandas as _pd

    from nibbler_spark.operators.compression import (
        delta_pack,
        delta_unpack,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("o_orderkey div 4096").alias("bucket"), "o_orderkey"
    )

    def pack_group(pdf: _pd.DataFrame) -> _pd.DataFrame:
        keys = sorted(set(int(k) for k in pdf["o_orderkey"]))
        z = delta_pack(keys)
        assert delta_unpack(z) == keys
        return _pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n": [len(keys)],
                "key_sum": [sum(keys)],
                "packed_smaller": [len(z) < 8 * len(keys)],
            }
        )

    return (
        o.groupBy("bucket")
        .applyInPandas(
            pack_group,
            "bucket long, n long, key_sum long, packed_smaller boolean",
        )
        .orderBy("bucket")
    )


@register(
    "a39_snappy_roundtrip",
    survey_id="A39",
    category="source-sink",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS payload_md5,
       TRUE AS roundtrip_ok
FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id
""",
)
def a39_snappy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPPY raw-format codec from the public format description
    (operators/compression.py: uvarint preamble, literal elements with
    extended lengths, tag-1 copies with 11-bit offsets and tag-2
    16-bit copies, 64-byte copy splitting) — the Parquet default
    codec, joining LZ4/DEFLATE/LZW/RLE in the from-scratch compression
    family. Odd documents compress + decompress inside one Arrow
    stage; the decompressed md5 is closed-form for the oracle and the
    declared-length check runs in the decoder itself. Partition-local,
    zero shuffles."""
    import hashlib as _hashlib

    import pandas as _pd

    from nibbler_spark.operators.compression import (
        snappy_compress,
        snappy_decompress,
    )

    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 1
    ).select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            out = {
                "doc_id": [],
                "n_chars": [],
                "payload_md5": [],
                "roundtrip_ok": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                back = snappy_decompress(snappy_compress(raw))
                out["doc_id"].append(int(doc_id))
                out["n_chars"].append(len(raw))
                out["payload_md5"].append(_hashlib.md5(back).hexdigest())
                out["roundtrip_ok"].append(back == raw)
            yield _pd.DataFrame(out)

    return d.mapInPandas(
        run,
        "doc_id long, n_chars long, payload_md5 string, "
        "roundtrip_ok boolean",
    ).orderBy("doc_id")


@register(
    "a40_rle_hybrid_levels",
    survey_id="A40",
    category="source-sink",
    oracle="""
SELECT CAST(date_part('day', ts) AS INT) AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE event_type
                WHEN 'click' THEN 0 WHEN 'error' THEN 1
                WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                ELSE 4 END) AS BIGINT) AS index_sum,
       TRUE AS roundtrip_ok,
       TRUE AS rle_smaller
FROM events GROUP BY 1 ORDER BY day
""",
)
def a40_rle_hybrid_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet's RLE / BIT-PACKED HYBRID encoding from the encodings
    spec (operators/compression.py) — the encoding behind definition /
    repetition levels and dictionary indexes: per day, the event-type
    dictionary indexes (width 3) sort into runs and encode as RLE runs
    (≥ 8 equal values) interleaved with exact-8k bit-packed groups
    (mid-stream groups may not pad — the reader can't see span
    boundaries; only the final group pads, which is precisely the
    subtle rule this implementation had to get right). Decode must
    reproduce the sequence exactly, and the encoding must undercut
    one-byte-per-value; index counts and sums are closed-form for the
    oracle. applyInPandas per day — the per-page shape of a columnar
    writer."""
    import pandas as _pd

    from nibbler_spark.operators.compression import (
        rle_hybrid_decode,
        rle_hybrid_encode,
    )

    idx = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "error", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)
    )
    e = load_table(spark, sf_dir, "events").select(
        F.dayofmonth("ts").alias("day"), idx.alias("ix")
    )

    def encode_day(pdf: _pd.DataFrame) -> _pd.DataFrame:
        vals = sorted(int(v) for v in pdf["ix"])
        z = rle_hybrid_encode(vals, 3)
        back = rle_hybrid_decode(z, 3, len(vals))
        return _pd.DataFrame(
            {
                "day": [int(pdf["day"].iloc[0])],
                "n": [len(vals)],
                "index_sum": [sum(vals)],
                "roundtrip_ok": [back == vals],
                "rle_smaller": [len(z) < max(1, len(vals))],
            }
        )

    return (
        e.groupBy("day")
        .applyInPandas(
            encode_day,
            "day int, n long, index_sum long, roundtrip_ok boolean, "
            "rle_smaller boolean",
        )
        .orderBy("day")
    )


@register(
    "a41_parquet_raw_reader",
    survey_id="A41",
    category="source-sink",
    oracle="""
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
         CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_cents,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returns
  FROM lineitem
)
SELECT codec, CAST(4 AS BIGINT) AS n_files,
       n_rows, key_checksum, qty_cents, price_cents, n_returns
FROM (VALUES ('snappy'), ('uncompressed')) AS c(codec), agg
ORDER BY codec
""",
)
def a41_parquet_raw_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet read WITHOUT Parquet libraries — the from-scratch reader
    (operators/parquet_codec.py) built on the a38/a40 Snappy and
    RLE/bit-packed-hybrid codecs plus a Thrift-compact-protocol parser
    for the footer and page headers. Lineitem is rewritten by Spark's
    own writer into 4-file layouts twice (snappy and uncompressed),
    then a one-file-per-partition mapInPandas opens each file raw:
    PAR1 magic -> footer FileMetaData -> row groups -> dictionary +
    data pages (v1) -> PLAIN / RLE_DICTIONARY values — i.e. the real
    files Spark produces, including dictionary-encoded and
    null-bearing columns, decoded by hand and reduced per-file to
    exact integer statistics (quantity/price floored to cents as
    Python bigints — no float summation order anywhere). Both codec
    variants must agree with the table aggregate computed by the
    oracle straight from lineitem. Scale: the reader is
    partition-local (one file per task, zero driver bytes, zero
    shuffles before the 8-row reduce) — the same topology Spark's own
    DataSource uses, demonstrated from first principles."""
    import glob as _glob
    import os as _os

    import pandas as _pd

    from nibbler_spark.sources.tables import cached_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    )

    def write_layout(codec: str):
        def build(tmp: str) -> None:
            li.repartition(4, "l_orderkey").write.option(
                "compression", codec
            ).mode("overwrite").parquet(tmp)

        return cached_dir(sf_dir, "lineitem", f"rawpq-{codec}", build)

    dirs = {"snappy": write_layout("snappy"), "uncompressed": write_layout("none")}
    files = [
        (codec, f)
        for codec, d in sorted(dirs.items())
        for f in sorted(_glob.glob(_os.path.join(d, "*.parquet")))
    ]
    fdf = spark.createDataFrame(
        files, "codec string, path string"
    ).repartition(len(files))

    def read_files(batches):
        from nibbler_spark.operators.parquet_codec import parquet_read_all

        for pdf in batches:
            for codec, path in zip(pdf["codec"], pdf["path"]):
                with open(path, "rb") as fh:
                    data = parquet_read_all(fh.read())
                qty = sum(
                    int(__import__("math").floor(v * 100))
                    for v in data["l_quantity"]
                )
                price = sum(
                    int(__import__("math").floor(v * 100))
                    for v in data["l_extendedprice"]
                )
                yield _pd.DataFrame(
                    {
                        "codec": [codec],
                        "n_rows": [len(data["l_orderkey"])],
                        "key_checksum": [sum(data["l_orderkey"])],
                        "qty_cents": [qty],
                        "price_cents": [price],
                        "n_returns": [
                            sum(
                                1
                                for b in data["l_returnflag"]
                                if b == b"R"
                            )
                        ],
                    }
                )

    per_file = fdf.mapInPandas(
        read_files,
        "codec string, n_rows long, key_checksum long, qty_cents long, "
        "price_cents long, n_returns long",
    )
    return (
        per_file.groupBy("codec")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("key_checksum").cast("bigint").alias("key_checksum"),
            F.sum("qty_cents").cast("bigint").alias("qty_cents"),
            F.sum("price_cents").cast("bigint").alias("price_cents"),
            F.sum("n_returns").cast("bigint").alias("n_returns"),
        )
        .orderBy("codec")
    )


@register(
    "a42_parquet_raw_writer",
    survey_id="A42",
    category="source-sink",
    oracle="""
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_urgent,
         CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 0 ELSE o_custkey END)
              AS BIGINT) AS cust_checksum
  FROM orders
)
SELECT codec, CAST(4 AS BIGINT) AS n_files,
       n_rows, key_checksum, price_cents, n_urgent, cust_checksum
FROM (VALUES ('snappy'), ('uncompressed')) AS c(codec), agg
ORDER BY codec
""",
)
def a42_parquet_raw_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet WRITE without Parquet libraries — the dual of A41: each
    of 4 partitions encodes its slice of orders into a real Parquet
    file from first principles (operators/parquet_codec.parquet_write:
    PLAIN data pages v1, RLE/bit-packed definition levels for the
    null-bearing column, from-scratch Snappy compression, Thrift
    compact page headers + footer), and the verification reader is
    SPARK'S OWN parquet DataSource: the files are read back with
    spark.read.parquet and must reproduce the table's exact integer
    aggregates (cents floored per row before summation — no float
    reduction order). A null-bearing column (custkey masked on every
    7th order) exercises the OPTIONAL/def-level write path; both
    codec variants are checked. Scale: encoding is partition-local
    mapInPandas with zero shuffles and zero driver bytes — exactly a
    DataSource writer's task topology, demonstrated from the spec
    up."""
    import os as _os
    import uuid as _uuid

    import pandas as _pd

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderpriority",
    )
    outs = []
    for codec in ("snappy", "uncompressed"):
        out_dir = scratch_dir(f"rawpqw-{codec}")

        def write_files(batches, codec=codec, out_dir=out_dir):
            from nibbler_spark.operators.parquet_codec import parquet_write

            keys, custs, prices, prios = [], [], [], []
            for pdf in batches:
                keys.extend(int(v) for v in pdf["o_orderkey"])
                custs.extend(
                    None if int(k) % 7 == 0 else int(c)
                    for k, c in zip(pdf["o_orderkey"], pdf["o_custkey"])
                )
                prices.extend(float(v) for v in pdf["o_totalprice"])
                prios.extend(
                    s.encode() for s in pdf["o_orderpriority"]
                )
            payload = parquet_write(
                [
                    ("o_orderkey", "int64", keys),
                    ("o_custkey", "int64", custs),
                    ("o_totalprice", "double", prices),
                    ("o_orderpriority", "byte_array", prios),
                ],
                codec=codec,
            )
            path = _os.path.join(
                out_dir, f"part-{_uuid.uuid4().hex}.parquet"
            )
            with open(path, "wb") as fh:
                fh.write(payload)
            yield _pd.DataFrame({"path": [path], "n": [len(keys)]})

        o.repartition(4).mapInPandas(
            write_files, "path string, n long"
        ).collect()
        back = spark.read.parquet(out_dir)
        agg = back.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("price_cents"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_urgent"),
            F.sum(F.coalesce(F.col("o_custkey"), F.lit(0)))
            .cast("bigint")
            .alias("cust_checksum"),
        ).select(
            F.lit(codec).alias("codec"),
            F.lit(
                len(
                    [
                        f
                        for f in _os.listdir(out_dir)
                        if f.endswith(".parquet")
                    ]
                )
            )
            .cast("bigint")
            .alias("n_files"),
            "n_rows",
            "key_checksum",
            "price_cents",
            "n_urgent",
            "cust_checksum",
        )
        outs.append(agg)
    return outs[0].unionByName(outs[1]).orderBy("codec")


@register(
    "a43_arrow_ipc_raw_reader",
    survey_id="A43",
    category="source-sink",
    oracle="""
SELECT CAST(4 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS bal_cents,
       CAST(SUM(length(c_mktsegment)) AS BIGINT) AS seg_chars,
       CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 0 ELSE c_nationkey END)
            AS BIGINT) AS nation_checksum,
       CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_positive
FROM customer
""",
)
def a43_arrow_ipc_raw_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC read WITHOUT Arrow libraries: pyarrow (the reference
    implementation) writes 4 Feather-V2 shards of customer — including
    a null-bearing int column, strings, and a bool — and each file is
    decoded back by the from-scratch reader
    (operators/arrow_ipc.py): the flatbuffers wire format parsed by
    hand (root offset -> vtable -> field slots), Message/Schema/
    RecordBatch framing, validity bitmaps, primitive and varbinary
    buffer layouts, multi-batch files. Per-file exact integer
    statistics reduce to the table aggregate the oracle computes from
    customer directly. With A41/A42 (Parquet) this closes the loop on
    the two interchange formats a Spark deployment actually speaks,
    both re-derived from their published specs. Scale: both stages
    are partition-local mapInPandas — zero shuffles before the 4-row
    reduce."""
    import math as _math
    import os as _os
    import uuid as _uuid

    import pandas as _pd

    c = load_table(spark, sf_dir, "customer")
    out_dir = scratch_dir("arrowipc")

    def write_files(batches):
        import pyarrow as _pa
        import pyarrow.ipc as _ipc

        keys, bals, segs, nations, pos = [], [], [], [], []
        for pdf in batches:
            for k, b, s, n in zip(
                pdf["c_custkey"],
                pdf["c_acctbal"],
                pdf["c_mktsegment"],
                pdf["c_nationkey"],
            ):
                keys.append(int(k))
                bals.append(float(b))
                segs.append(str(s))
                nations.append(None if int(k) % 3 == 0 else int(n))
                pos.append(float(b) > 0)
        t = _pa.table(
            {
                "c_custkey": _pa.array(keys, _pa.int64()),
                "c_acctbal": _pa.array(bals, _pa.float64()),
                "c_mktsegment": _pa.array(segs, _pa.utf8()),
                "maybe_nation": _pa.array(nations, _pa.int32()),
                "positive": _pa.array(pos, _pa.bool_()),
            }
        )
        path = _os.path.join(out_dir, f"shard-{_uuid.uuid4().hex}.arrow")
        with _ipc.new_file(path, t.schema) as w:
            for b in t.to_batches(max_chunksize=500):
                w.write_batch(b)
        yield _pd.DataFrame({"path": [path], "n": [len(keys)]})

    paths = [
        r["path"]
        for r in c.repartition(4)
        .mapInPandas(write_files, "path string, n long")
        .collect()
    ]
    fdf = spark.createDataFrame(
        [(p,) for p in sorted(paths)], "path string"
    ).repartition(len(paths))

    def read_files(batches):
        from nibbler_spark.operators.arrow_ipc import arrow_ipc_read

        for pdf in batches:
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    data = arrow_ipc_read(fh.read())
                yield _pd.DataFrame(
                    {
                        "n_rows": [len(data["c_custkey"])],
                        "key_checksum": [sum(data["c_custkey"])],
                        "bal_cents": [
                            sum(
                                int(_math.floor(v * 100))
                                for v in data["c_acctbal"]
                            )
                        ],
                        "seg_chars": [
                            sum(len(s) for s in data["c_mktsegment"])
                        ],
                        "nation_checksum": [
                            sum(
                                v
                                for v in data["maybe_nation"]
                                if v is not None
                            )
                        ],
                        "n_positive": [
                            sum(1 for b in data["positive"] if b)
                        ],
                    }
                )

    per_file = fdf.mapInPandas(
        read_files,
        "n_rows long, key_checksum long, bal_cents long, seg_chars long, "
        "nation_checksum long, n_positive long",
    )
    return per_file.agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("key_checksum").cast("bigint").alias("key_checksum"),
        F.sum("bal_cents").cast("bigint").alias("bal_cents"),
        F.sum("seg_chars").cast("bigint").alias("seg_chars"),
        F.sum("nation_checksum").cast("bigint").alias("nation_checksum"),
        F.sum("n_positive").cast("bigint").alias("n_positive"),
    )


_CSV_DIALECTS = [("comma", ","), ("semicolon", ";"), ("tab", "\t")]


def _csv_render(fields: list[str], delim: str) -> str:
    out = []
    for f in fields:
        if delim in f or '"' in f or "\n" in f:
            out.append('"' + f.replace('"', '""') + '"')
        else:
            out.append(f)
    return delim.join(out)


def _csv_split(line: str, delim: str) -> list[str]:
    """Quote-aware split (RFC 4180 state machine)."""
    fields, cur, in_q, i = [], [], False, 0
    while i < len(line):
        ch = line[i]
        if in_q:
            if ch == '"':
                if i + 1 < len(line) and line[i + 1] == '"':
                    cur.append('"')
                    i += 1
                else:
                    in_q = False
            else:
                cur.append(ch)
        elif ch == '"':
            in_q = True
        elif ch == delim:
            fields.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    fields.append("".join(cur))
    return fields


def sniff_csv_dialect(text: str) -> str:
    """Detect the delimiter: for each candidate, every line must parse
    (quote-aware) to the SAME field count > 1; among consistent
    candidates pick the one with the most fields (a wrong delimiter
    collapses to 1 field per line or inconsistent counts)."""
    lines = [ln for ln in text.split("\n") if ln][:50]
    best, best_n = None, 1
    for _, d in _CSV_DIALECTS + [("pipe", "|")]:
        counts = {len(_csv_split(ln, d)) for ln in lines}
        if len(counts) == 1:
            (n,) = counts
            if n > best_n:
                best, best_n = d, n
    if best is None:
        raise ValueError("no consistent delimiter found")
    return best


@register(
    "a44_csv_dialect_sniffing",
    survey_id="A44",
    category="source-sink",
    oracle="""
SELECT d.dialect,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(3 AS BIGINT) AS n_fields,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS bal_cents,
       CAST(SUM(length(c_name) + 1 + length(c_mktsegment)
                + CASE WHEN c_custkey % 13 = 0 THEN 3 ELSE 0 END)
            AS BIGINT) AS name_chars
FROM customer CROSS JOIN
     (VALUES ('comma'), ('semicolon'), ('tab')) AS d(dialect)
GROUP BY d.dialect ORDER BY d.dialect
""",
)
def a44_csv_dialect_sniffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect SNIFFING + quote-aware parsing from scratch — the
    messy-ingestion reality a platform meets before any schema: the
    same customer data is rendered into three dialects (comma /
    semicolon / tab), with adversarial content — every name embeds a
    comma (name,segment) so the comma dialect MUST quote, and every
    13th row embeds a doubled double-quote — then each file is
    sniffed (consistent quote-aware field counts across candidate
    delimiters; a wrong delimiter collapses or wobbles) and parsed by
    the RFC 4180 state machine. All three dialects must recover
    IDENTICAL content: exact cents and name-length checksums per
    dialect hash-match the oracle's single closed form. Encode, sniff
    and parse are all partition-local mapInPandas stages — the a41/
    a42 raw-format topology applied to the oldest format there is."""
    import os as _os

    import pandas as _pd

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    out_dir = scratch_dir("csvdialect")

    def encode(batches):
        rows = []
        for pdf in batches:
            for k, n, s, b in zip(
                pdf["c_custkey"],
                pdf["c_name"],
                pdf["c_mktsegment"],
                pdf["bal_cents"],
            ):
                name = f"{n},{s}"
                if int(k) % 13 == 0:
                    name += '"x"'
                rows.append((name, str(int(k)), str(int(b))))
        for dname, d in _CSV_DIALECTS:
            path = _os.path.join(out_dir, f"{dname}.csv")
            with open(path, "w") as fh:
                for name, k, b in rows:
                    fh.write(_csv_render([name, k, b], d) + "\n")
        yield _pd.DataFrame({"written": [len(rows)]})

    c.coalesce(1).mapInPandas(encode, "written long").collect()
    files = spark.createDataFrame(
        [
            (dname, _os.path.join(out_dir, f"{dname}.csv"))
            for dname, _ in _CSV_DIALECTS
        ],
        "dialect string, path string",
    ).repartition(3)

    def parse(batches):
        for pdf in batches:
            for dialect, path in zip(pdf["dialect"], pdf["path"]):
                with open(path) as fh:
                    text = fh.read()
                d = sniff_csv_dialect(text)
                expected = dict(_CSV_DIALECTS)[dialect]
                assert d == expected, (dialect, d)
                n_rows = bal = chars = 0
                n_fields = None
                for ln in text.split("\n"):
                    if not ln:
                        continue
                    fs = _csv_split(ln, d)
                    n_fields = len(fs)
                    n_rows += 1
                    chars += len(fs[0])
                    bal += int(fs[2])
                yield _pd.DataFrame(
                    {
                        "dialect": [dialect],
                        "n_rows": [n_rows],
                        "n_fields": [n_fields],
                        "bal_cents": [bal],
                        "name_chars": [chars],
                    }
                )

    return (
        files.mapInPandas(
            parse,
            "dialect string, n_rows long, n_fields long, bal_cents long, "
            "name_chars long",
        )
        .orderBy("dialect")
    )


@register(
    "a45_bz2_ingestion",
    survey_id="A45",
    category="source-sink",
    oracle="""
SELECT CAST(4 AS BIGINT) AS n_shards,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(length(text)) AS BIGINT) AS text_chars,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_en
FROM documents
""",
)
def a45_bz2_ingestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingesting .bz2 corpus dumps WITHOUT a bzip2 library in the read
    path: documents are sharded to 4 bz2-compressed
    tab-separated-record files by the REFERENCE implementation
    (stdlib libbzip2 — the writer side real dumps come from), then
    each shard is decoded by the from-scratch decoder
    (operators/bzip2_codec.py: RLE1 + inverse BWT + MTF + RUNA/RUNB
    zero runs + multi-table canonical Huffman with 50-symbol group
    selectors, block AND stream CRCs verified) inside a
    one-file-per-task mapInPandas, and the recovered records
    aggregate to exact corpus statistics the oracle computes from
    the documents table directly. bz2 is the classic unsplittable
    codec: the shard is the parallelism unit (the a33 gzip contract),
    which is exactly why dumps ship pre-sharded. Completes the
    compression family with the one general-purpose format the repo
    could only decode, not write — verified against the reference
    encoder end-to-end."""
    import bz2 as _bz2
    import os as _os
    import uuid as _uuid

    import pandas as _pd

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    out_dir = scratch_dir("bz2")

    def encode(batches):
        lines = []
        for pdf in batches:
            for k, t, lg in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                lines.append(f"{int(k)}\t{lg}\t{t}")
        payload = _bz2.compress("\n".join(lines).encode(), 5)
        path = _os.path.join(out_dir, f"shard-{_uuid.uuid4().hex}.bz2")
        with open(path, "wb") as fh:
            fh.write(payload)
        yield _pd.DataFrame({"path": [path], "n": [len(lines)]})

    d.repartition(4).mapInPandas(encode, "path string, n long").collect()
    files = sorted(
        _os.path.join(out_dir, f)
        for f in _os.listdir(out_dir)
        if f.endswith(".bz2")
    )
    fdf = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(len(files))

    def decode(batches):
        from nibbler_spark.operators.bzip2_codec import bzip2_decompress

        for pdf in batches:
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    raw = bzip2_decompress(fh.read())
                n = chk = chars = n_en = 0
                text = raw.decode()
                if text:
                    for ln in text.split("\n"):
                        k, lg, t = ln.split("\t", 2)
                        n += 1
                        chk += int(k)
                        chars += len(t)
                        n_en += lg == "en"
                yield _pd.DataFrame(
                    {
                        "n_docs": [n],
                        "id_checksum": [chk],
                        "text_chars": [chars],
                        "n_en": [n_en],
                    }
                )

    per = fdf.mapInPandas(
        decode,
        "n_docs long, id_checksum long, text_chars long, n_en long",
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_shards"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("id_checksum").cast("bigint").alias("id_checksum"),
        F.sum("text_chars").cast("bigint").alias("text_chars"),
        F.sum("n_en").cast("bigint").alias("n_en"),
    )
