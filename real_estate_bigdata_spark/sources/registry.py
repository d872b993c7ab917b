"""Config-driven source registry (reference X1/X2).

The reference hard-codes its source table as a Python list of
(name, crawl_fn, topic) tuples in `scheduler/scheduler_runner.py:28-31`
and fans out one thread per source (`:46-53`). Here a source is a
declarative spec and the fan-out is one INDEPENDENT Structured
Streaming query per source — isolation (a broken source stalls only its
own query, X3), per-source checkpoints, and the Spark scheduler owns
the parallelism instead of a thread pool.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from real_estate_bigdata_spark.functions.normalize import normalize_listings
from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA
from real_estate_bigdata_spark.streaming.ingest import file_stream_ingest, start_sink

__all__ = ["SourceSpec", "SourceRegistry", "kafka_connector_available"]


@dataclass(frozen=True)
class SourceSpec:
    """One listing source: where raw records drop, under what schema.

    ``kind='file'`` reads a JSONL drop directory (the testable stand-in
    for a live scraper, SURVEY S1); ``kind='kafka'`` subscribes to
    ``topic`` via ``sources.kafka`` (requires a broker AND the
    spark-sql-kafka connector on the classpath — probed before any
    query starts, see :meth:`SourceRegistry.start_all`).
    """

    name: str
    src: str  # drop directory (file) or bootstrap servers (kafka)
    kind: str = "file"
    topic: str | None = None
    schema: StructType = field(default_factory=lambda: RAW_LISTING_SCHEMA)


def kafka_connector_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the JVM classpath.

    A kafka-kind spec without the connector would otherwise die inside
    ``readStream.load()`` with an opaque "Failed to find data source:
    kafka" AFTER sibling queries already started — the registry probes
    this up front so the fan-out is all-or-nothing (X3 validation
    before any side effect)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


class SourceRegistry:
    """Registered sources -> one streaming ingest query each, all
    landing in the same partitioned lake under `source=<name>`."""

    def __init__(self) -> None:
        self._specs: dict[str, SourceSpec] = {}

    def register(self, spec: SourceSpec) -> "SourceRegistry":
        if spec.name in self._specs:
            raise ValueError(f"source {spec.name!r} already registered")
        if spec.kind not in ("file", "kafka"):
            raise ValueError(
                f"source {spec.name!r}: unknown kind {spec.kind!r} "
                "(expected 'file' or 'kafka')"
            )
        if spec.kind == "kafka" and not spec.topic:
            raise ValueError(f"kafka source {spec.name!r} needs a topic")
        self._specs[spec.name] = spec
        return self

    def specs(self) -> list[SourceSpec]:
        return list(self._specs.values())

    def _raw_stream(self, spark: SparkSession, spec: SourceSpec) -> DataFrame:
        """The typed raw-record stream for one spec — the only
        kind-dependent hop; everything downstream (normalize ->
        partitioned lake append) is shared."""
        if spec.kind == "kafka":
            from real_estate_bigdata_spark.sources.kafka import (
                decode_kafka_records,
                kafka_stream_source,
            )

            envelopes = kafka_stream_source(
                spark, bootstrap=spec.src, topic=spec.topic
            )
            # the consumer's blind JSON deserialize under an explicit
            # schema (kafka_to_hdfs_consumer.py:63); drop the transport
            # timestamp — the lake schema is source-kind-agnostic
            return decode_kafka_records(envelopes, spec.schema).drop(
                "kafka_ts"
            )
        return file_stream_ingest(spark, spec.src, schema=spec.schema)

    def start_all(
        self,
        spark: SparkSession,
        lake_path: str,
        checkpoint_root: str,
        available_now: bool = True,
    ) -> list[StreamingQuery]:
        """Launch one ingest query per source (the X2 fan-out). Each
        normalizes in-flight and appends to its OWN `source=<name>`
        subtree of the lake with its own checkpoint: a streaming file
        sink owns its directory's `_spark_metadata` transaction log, so
        concurrent queries must not share a sink path — writing each
        source INTO its partition directory keeps one lake layout
        (`source` comes back as a partition column on a root read) while
        giving every query exclusive sink ownership. Provenance is the
        registry name, never the payload's claimed source.

        Kafka-kind specs run through the exact same normalize -> lake
        path as file-kind ones (reference consumer parity,
        `kafka_to_hdfs_consumer.py:49-151`); they require the
        spark-sql-kafka connector, which is PROBED before any query
        starts — failing midway would orphan already-started queries
        with no handle returned, so validation is all-or-nothing."""
        kafka_specs = [s.name for s in self.specs() if s.kind == "kafka"]
        if kafka_specs and not kafka_connector_available(spark):
            raise RuntimeError(
                f"kafka source(s) {kafka_specs} need the spark-sql-kafka "
                "connector on the classpath (and a reachable broker); "
                "add org.apache.spark:spark-sql-kafka-0-10 via "
                "spark.jars.packages, or use file-kind drop-dir sources"
            )
        queries = []
        for spec in self.specs():
            raw = self._raw_stream(spark, spec)
            normalized = normalize_listings(raw).drop("source")
            writer = (
                normalized.writeStream.format("parquet")
                .option("path", f"{lake_path}/source={spec.name}")
                .partitionBy("ingest_date")
                .outputMode("append")
            )
            ckpt = f"{checkpoint_root}/{spec.name}"
            queries.append(start_sink(writer, ckpt, available_now, "60 seconds"))
        return queries
