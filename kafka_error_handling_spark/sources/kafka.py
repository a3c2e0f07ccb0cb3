"""Kafka source/sink wiring (SURVEY.md §2.7 scans/sinks).

The reference consumes and produces Kafka topics
(``builder.stream(INPUT_TOPIC)`` / ``.to(topic)``, ``README.md:63-84``).
Spark's Kafka connector exposes the exact record model our data model
mirrors (§1.3): ``key binary, value binary, topic string, partition int,
offset long, timestamp timestamp, headers array<struct<key,value>>``.

No broker exists in this container, so these helpers only *assemble*
readers/writers (option plumbing; the captured serde edges are
:mod:`.serde`) — they are exercised
against in-memory frames shaped like the Kafka schema in tests, and are
drop-in on a real cluster.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "KAFKA_SOURCE_SCHEMA",
    "read_stream",
    "read_batch",
    "to_sink_frame",
    "write_stream",
]

# the Kafka source schema, the engine's canonical record shape
KAFKA_SOURCE_SCHEMA = StructType(
    [
        StructField("key", BinaryType(), True),
        StructField("value", BinaryType(), True),
        StructField("topic", StringType(), True),
        StructField("partition", IntegerType(), True),
        StructField("offset", LongType(), True),
        StructField("timestamp", TimestampType(), True),
        StructField("timestampType", IntegerType(), True),
        StructField(
            "headers",
            ArrayType(
                StructType(
                    [
                        StructField("key", StringType(), True),
                        StructField("value", BinaryType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


def read_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    include_headers: bool = True,
    max_offsets_per_trigger: Optional[int] = None,
    fail_on_data_loss: bool = True,
) -> DataFrame:
    """``spark.readStream.format("kafka")`` with the options the engine
    standardizes on.  ``maxOffsetsPerTrigger`` bounds micro-batch size —
    the backpressure knob that keeps batch memory flat at any topic scale.

    ``fail_on_data_loss`` defaults to **True** (reference-faithful
    fail-fast): offsets lost to retention/topic deletion abort the query
    instead of being silently skipped, matching the at-least-once
    crash-and-retry contract in ``streaming/runner.py`` — nothing is
    silently eaten.  Pass ``False`` explicitly to opt into skip-and-continue
    on long-retention catch-up reads (documented divergence knob)."""
    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .option("includeHeaders", str(include_headers).lower())
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger:
        r = r.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return r.load()


def read_batch(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
) -> DataFrame:
    """Batch read of a topic (offset range defaults to earliest..latest)."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("includeHeaders", "true")
        .load()
    )


def to_sink_frame(
    df: DataFrame,
    key: Optional[Column] = None,
    value: Optional[Column] = None,
    topic: Optional[str] = None,
    headers: Optional[Column] = None,
) -> DataFrame:
    """Project to the Kafka sink contract: ``key/value`` binary (strings are
    auto-cast), optional ``topic`` and ``headers`` columns."""
    cols = []
    if key is not None:
        cols.append(key.cast("binary").alias("key"))
    cols.append((value if value is not None else F.col("value")).cast("binary").alias("value"))
    if topic is not None:
        cols.append(F.lit(topic).alias("topic"))
    if headers is not None:
        cols.append(headers.alias("headers"))
    return df.select(*cols)


def write_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    include_headers: bool = True,
):
    """``writeStream.format("kafka")`` with header support (the DLQ sink
    path for ``with_error_headers`` output)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("includeHeaders", str(include_headers).lower())
        .option("checkpointLocation", checkpoint)
    )

