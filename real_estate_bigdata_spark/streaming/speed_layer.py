"""Speed layer: Kafka envelope -> decode -> normalize -> partitioned lake.

The reference's consumer loop (`kafka_cc/consumer/kafka_to_hdfs_consumer.py:49-151`:
subscribe earliest, JSON-deserialize each message, append to date-named
HDFS JSONL) re-expressed as one Structured Streaming pipeline. The
pipeline function takes ANY Kafka-shaped stream — the real
``sources.kafka.kafka_stream_source`` output when a broker exists, or
:func:`kafka_envelope_file_source` (a persisted-envelope stand-in) in
broker-less environments — so the decode -> normalize -> sink path that
tests exercise end-to-end is byte-for-byte the path a broker feeds.

Scale notes: decoding and normalization are map-only Column expressions
(fused into the micro-batch scan); the only wide operation is the
partitioned file sink's write. Envelope key/value stay ``binary``
exactly as the Kafka connector delivers them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from real_estate_bigdata_spark.functions.normalize import normalize_listings
from real_estate_bigdata_spark.sources.kafka import (
    decode_kafka_records,
    encode_kafka_records,
)
from real_estate_bigdata_spark.streaming.ingest import start_sink

__all__ = [
    "write_kafka_envelopes",
    "kafka_envelope_file_source",
    "run_speed_layer",
]

#: the columns the Spark Kafka connector yields that this pipeline needs
ENVELOPE_SCHEMA = "key binary, value binary, timestamp timestamp"


def write_kafka_envelopes(df: DataFrame, path: str, mode: str = "append") -> None:
    """Persist records as Kafka-shaped envelopes (key/value binary +
    timestamp) via the SAME ``encode_kafka_records`` codec the real
    producer sink uses — the broker-less stand-in feed for
    :func:`kafka_envelope_file_source`."""
    from pyspark.sql import functions as F

    enc = encode_kafka_records(df).select(
        F.col("key").cast("binary"),
        F.col("value").cast("binary"),
        F.current_timestamp().alias("timestamp"),
    )
    enc.write.mode(mode).parquet(path)


def kafka_envelope_file_source(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over persisted envelopes — same (key, value, timestamp)
    shape the Kafka connector yields, so downstream code cannot tell the
    difference (that is the point: one pipeline, two feeds)."""
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def run_speed_layer(
    envelopes: DataFrame,
    dest_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "60 seconds",
) -> StreamingQuery:
    """The speed-layer query: decode -> normalize -> partitioned lake.

    ``envelopes`` is any Kafka-shaped stream (``kafka_stream_source``
    output with a broker, :func:`kafka_envelope_file_source` without).
    ``available_now=True`` drains and stops (incremental batch);
    ``False`` runs continuously at ``processing_time`` cadence (the
    60-s half of the reference's hybrid flush ST1 — the 100-row half is
    ``maxOffsetsPerTrigger`` / ``maxFilesPerTrigger`` on the source).
    """
    decoded = decode_kafka_records(envelopes).drop("kafka_ts")
    normalized = normalize_listings(decoded)
    writer = (
        normalized.writeStream.format("parquet")
        .option("path", dest_dir)
        .partitionBy("ingest_date", "source")
        .outputMode("append")
    )
    return start_sink(writer, checkpoint_dir, available_now, processing_time)
