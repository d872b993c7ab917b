"""Kafka end-to-end surface (VERDICT r8 task #4).

The reference's broker hop (`kafka_producer.py:43-76` ->
`kafka_to_hdfs_consumer.py:49-151`) maps to `sources/kafka.py` builders
plus the registry's kafka branch. This sandbox provably cannot host the
path (no spark-sql-kafka jar on disk, no network egress for Ivy — proof
in tests/test_speed_layer.py's module docstring), so the live smoke is
ENV-GATED: it runs wherever `KAFKA_BOOTSTRAP` points at a broker and the
connector is on the classpath, and SKIPS VISIBLY (never silently
absent) elsewhere. What this environment CAN pin deterministically is
the fail-before-start contract: a kafka-kind spec without the connector
must abort the whole fan-out with a clear error before ANY sibling
query starts (X3 all-or-nothing validation).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from real_estate_bigdata_spark.sources import lake
from real_estate_bigdata_spark.sources.registry import (
    SourceRegistry,
    SourceSpec,
    kafka_connector_available,
)

RAW_REC = {
    "raw_post_date": "24/04/2025", "duong_pho": "Lê Lợi",
    "phuong_xa": "Bến Nghé", "quan_huyen": "Quận 1",
    "thanh_pho": "Hồ Chí Minh", "loai_bds": "Nhà đất",
    "raw_price": "1,5 tỷ", "raw_area": "45 m2",
    "raw_kich_thuoc": "4x10m", "duong_truoc_nha": "5m",
    "so_tang": "2 lầu", "so_phong_ngu": "3 phòng ngủ",
    "cho_de_xe": "Có", "source": "kafka-claims", "link": None,
    "title": None,
}

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")


def test_registry_validates_kafka_spec():
    with pytest.raises(ValueError, match="needs a topic"):
        SourceRegistry().register(
            SourceSpec(name="k", src="host:9092", kind="kafka")
        )
    with pytest.raises(ValueError, match="unknown kind"):
        SourceRegistry().register(
            SourceSpec(name="w", src="/tmp/w", kind="webdav")
        )


def test_kafka_fanout_fails_before_start_without_connector(spark, tmp_path):
    """A mixed file+kafka registry must start ZERO queries when the
    connector is missing — never orphan the file query behind an
    opaque mid-fanout 'Failed to find data source: kafka'."""
    if kafka_connector_available(spark):
        pytest.skip("connector present here — the live smoke covers this")
    d = tmp_path / "drop"
    d.mkdir()
    (d / "x.jsonl").write_text(
        json.dumps(RAW_REC, ensure_ascii=False) + "\n", encoding="utf-8"
    )
    reg = (
        SourceRegistry()
        .register(SourceSpec(name="files", src=str(d)))
        .register(
            SourceSpec(
                name="broker", src="localhost:9092", kind="kafka",
                topic="alonhadat",
            )
        )
    )
    before = len(spark.streams.active)
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        reg.start_all(spark, str(tmp_path / "lake"), str(tmp_path / "ckpt"))
    assert len(spark.streams.active) == before


def test_kafka_stream_sink_fails_at_start_without_connector(spark, tmp_path):
    """The S4 producer sink over a Kafka-shaped envelope stream: without
    the connector, ``.start()`` raises the data-source-not-found error
    and leaves no query running."""
    if kafka_connector_available(spark):
        pytest.skip("connector present here — the live smoke covers this")
    from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA
    from real_estate_bigdata_spark.sources.kafka import kafka_stream_sink
    from real_estate_bigdata_spark.streaming import speed_layer as sl

    raw = spark.createDataFrame(
        [tuple(RAW_REC[f.name] for f in RAW_LISTING_SCHEMA.fields)],
        RAW_LISTING_SCHEMA,
    )
    env_path = str(tmp_path / "envelopes")
    sl.write_kafka_envelopes(raw, env_path)
    envelopes = sl.kafka_envelope_file_source(spark, env_path)
    writer = kafka_stream_sink(
        envelopes.select("key", "value"),
        "localhost:9092",
        "alonhadat",
        str(tmp_path / "ckpt"),
    )
    before = len(spark.streams.active)
    with pytest.raises(Exception, match="DATA_SOURCE_NOT_FOUND|Failed to find"):
        writer.start()
    assert len(spark.streams.active) == before


@pytest.mark.skipif(
    not BOOTSTRAP,
    reason="live Kafka smoke needs KAFKA_BOOTSTRAP=<broker> (no broker "
    "and no spark-sql-kafka jar in this sandbox — proven in "
    "tests/test_speed_layer.py)",
)
def test_kafka_source_normalize_lake_micro_batch(spark, tmp_path):
    """The last untested reference hop, live: produce JSON envelopes to
    the broker (batch kafka sink), drive kafka_stream_source ->
    decode -> normalize -> partitioned lake through one availableNow
    run via the registry, and check the lake equals the batch
    normalize of the same records (kafka_to_hdfs_consumer.py parity).
    """
    if not kafka_connector_available(spark):
        pytest.skip("KAFKA_BOOTSTRAP set but connector jar missing")
    from real_estate_bigdata_spark.functions.normalize import (
        normalize_listings,
    )
    from real_estate_bigdata_spark.schema import RAW_LISTING_SCHEMA
    from real_estate_bigdata_spark.sources.kafka import encode_kafka_records

    topic = f"t_e2e_{abs(hash(str(tmp_path))) % 10_000_000}"
    raw = spark.createDataFrame(
        [tuple(RAW_REC.get(f.name) for f in RAW_LISTING_SCHEMA.fields)] * 5,
        RAW_LISTING_SCHEMA,
    )
    (
        encode_kafka_records(raw)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("topic", topic)
        .save()
    )
    reg = SourceRegistry().register(
        SourceSpec(name="broker", src=BOOTSTRAP, kind="kafka", topic=topic)
    )
    queries = reg.start_all(
        spark, str(tmp_path / "lake"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    for q in queries:
        q.awaitTermination(120)
    got = lake.read_lake(spark, str(tmp_path / "lake"))
    assert got.count() == 5
    # provenance is the registry name; values match the batch path
    assert {r.source for r in got.select("source").collect()} == {"broker"}
    want = normalize_listings(raw).drop("source")
    cols = [c for c in want.columns if c != "ingest_date"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
