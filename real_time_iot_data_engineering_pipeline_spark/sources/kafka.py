"""Kafka source/sink option wiring (behind the file-source test seam).

The reference reads with startingOffsets=latest, failOnDataLoss=false and an
ingest cap of maxOffsetsPerTrigger=10000 (spark_streaming/streaming_job.py:
205-230), and produces keyed-by-sensor JSON with an idempotent producer
(data_generator/producer.py:196-217,250-302).  These builders only
return options and frames: scripts/kafka_smoke.py builds a Kafka reader and
writer from them on a host with a broker and the spark-sql-kafka connector.
Tests assert the option sets and the key/value projection, and the streaming
tests drive the downstream plan through the file source
(streaming/pipeline.py::read_event_file_stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RAW_TOPIC = "raw_iot_data"  # kafka/topics_config.json:3-13
VALID_TOPIC = "validated_iot_data"  # kafka/topics_config.json:13-23
DLQ_TOPIC = "dlq_iot_data"  # kafka/topics_config.json:23-43


def kafka_source_options(
    topic: str = RAW_TOPIC,
    bootstrap_servers: str = "localhost:9092",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int = 10_000,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The reference's exact source options (streaming_job.py:205-230)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }


def to_kafka_sink_frame(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Project a DataFrame to the Kafka sink wire format: key = the
    partitioning identity (the reference keys by sensor_id so one sensor's
    readings stay ordered within a partition — producer.py:227-243,281-289),
    value = the full record as JSON (producer.py:198)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


def kafka_sink_options(
    topic: str = VALID_TOPIC, bootstrap_servers: str = "localhost:9092"
) -> dict[str, str]:
    """Producer-side options.  Broker-level idempotence/acks/compression
    (producer.py:196-217) are kafka-client settings passed through with the
    `kafka.` prefix."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "kafka.enable.idempotence": "true",
        "kafka.acks": "all",
        "kafka.compression.type": "snappy",
    }
