"""Stream sources (SURVEY.md §2.B "Sources / sinks").

Kafka is the canonical ingest (reference consumer.rs:56-111 — Avro
decode by registered schema, manual commits). Our mapping:
``readStream.format("kafka")`` with checkpoint-based offsets (strictly
stronger than the reference's at-least-once manual commit, SURVEY S6),
``from_json``/``from_avro`` for the payload. Confluent wire format
frames Avro as [magic 0x00][4-byte schema id][avro body]
(registry_handler.rs:50-58 registers schemas; producer.rs:42-56 encodes)
— ``confluent_avro_payload`` strips the 5-byte prefix so from_avro sees
the bare body.

File/rate sources are the test/bench harness: a file stream over the
same parquet lets every streaming query be replayed deterministically
(availableNow) and compared to its batch twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Raw Kafka stream (key/value binary + topic/partition/offset/ts).

    max_offsets_per_trigger is the backpressure knob the reference lacks
    (its unbounded mpsc channel, agg-producer main.rs:94)."""
    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        r = r.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return r.load()


def confluent_avro_payload(value: Column) -> Column:
    """Strip the Confluent 5-byte frame: [0x00][schema_id:int32][body].

    Feed the result to from_avro(...) (requires the spark-avro module on
    the classpath); the schema id itself is exposed for dispatch."""
    return F.expr(f"substring({value._jc.toString()}, 6, 2147483647)")


def confluent_schema_id(value: Column) -> Column:
    """int32 big-endian schema id from bytes 2-5 of the framed payload."""
    b = lambda i: F.expr(
        f"cast(conv(hex(substring({value._jc.toString()}, {i}, 1)), 16, 10) as int)"
    )
    return (b(2) * 16777216 + b(3) * 65536 + b(4) * 256 + b(5)).alias("schema_id")


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    r = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.load(path)


def rate_stream(
    spark: SparkSession, rows_per_second: int = 10, num_partitions: int = 1
) -> DataFrame:
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(num_partitions))
        .load()
    )
