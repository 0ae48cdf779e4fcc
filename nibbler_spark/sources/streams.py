"""Streaming source/sink builders (SURVEY §2.3 A5–A8, A10; Kafka A7).

The rate source and the Kafka loopback are exercised by tests and the
declared streaming queries; Kafka is declared here behind an
availability check (the test environment ships no broker and no
kafka-sql package) — the builder is the production code path,
smoke-usable wherever a broker exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Rate source for dev/bench (A6): (timestamp, value) rows."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka package is on the classpath."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:9092"
        ).option("subscribe", "probe").load()
        return True
    except Exception:
        return False


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source (A7) — the production ingestion path for the
    micro-batcher. ``maxOffsetsPerTrigger`` ≈ the reference's bounded
    queue admission (R3). Requires the spark-sql-kafka package."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return reader.load()


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """Kafka sink (A7): expects a ``value`` (and optionally ``key``)
    binary/string column per the Spark Kafka contract."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )


# ---------------------------------------------------------------------------
# Kafka serde + loopback harness (A7 without a broker)
# ---------------------------------------------------------------------------
# The env ships no broker and no spark-sql-kafka package, so transport is
# the ONLY untestable layer. Everything around it is real code exercised
# by the loopback: the encode path produces the exact record schema a
# Kafka sink consumes, the decode path is verbatim what a subscriber runs
# on `spark.readStream.format("kafka")...load()`, and the loopback
# transport materializes encoded records to a file-drop dir with the same
# (key, value, topic, partition, offset, timestamp, timestampType)
# columns and types the broker would serve.

KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def to_kafka_records(
    df: DataFrame,
    topic: str,
    key_col: str,
    ts_col: str,
    n_partitions: int = 4,
) -> DataFrame:
    """Producer-side serde (A7 encode): JSON-encode every column into
    ``value``, hash-partition on the key like Kafka's default
    partitioner, and assign per-partition contiguous offsets. On a real
    broker the offset column is assigned server-side; the loopback
    assigns it deterministically so the subscriber contract (offsets
    contiguous per partition from 0) is testable."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    part = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_partitions)).cast(
        "int"
    )
    payload = F.to_json(F.struct(*[c for c in df.columns if c != ts_col]))
    keyed = df.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        part.alias("partition"),
        F.col(ts_col).alias("timestamp"),
        F.lit(0).alias("timestampType"),
        F.col(key_col).alias("_ord"),
    )
    w = Window.partitionBy("partition").orderBy("timestamp", "_ord")
    return keyed.withColumn(
        "offset", (F.row_number().over(w) - 1).cast("long")
    ).select(
        "key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType",
    )


def decode_kafka_json(records: DataFrame, value_schema: str) -> DataFrame:
    """Subscriber-side serde (A7 decode): exactly what production runs on
    a Kafka source — CAST the binary value to string, parse the JSON
    payload against the declared schema, and surface the record
    metadata. Works identically on a real Kafka load() and on the
    loopback transport."""
    from pyspark.sql import functions as F

    return records.select(
        F.col("key").cast("string").alias("record_key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    ).select("record_key", "v.*", "topic", "partition", "offset", "timestamp")


def kafka_loopback_stream(
    spark: SparkSession, records_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Loopback transport: stream previously-materialized Kafka-schema
    records from a file-drop dir. The returned DataFrame has the same
    columns and types as ``format("kafka").load()`` — downstream code
    cannot tell the difference, which is the point: swap this for
    :func:`kafka_source` and the pipeline is production."""
    return (
        spark.readStream.schema(KAFKA_RECORD_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(records_dir)
    )
