"""Structured Streaming runtime — the engine's continuous tier.

Re-expresses the reference's streaming job (spark_streaming/streaming_job.py:
readStream kafka -> from_json parse -> withWatermark + 5-minute windowed agg
-> outputMode(update) -> foreachBatch Mongo upsert) as Spark plans over a
JSON-lines file source.  Two entry points start streaming queries:
topology.run_topology (the event stream: validate, route, aggregate, with
its optional branches) and doc_pipeline.run_doc_ingest (the document
stream).  sources/kafka.py holds the reference's Kafka options; only
scripts/kafka_smoke.py builds a Kafka reader from them, on a host with a
broker and the connector jar.
"""

from .listener import MetricsListener
from .pipeline import (
    dedup_stream,
    parse_event_stream,
    read_event_file_stream,
    windowed_aggregate,
)
from .router import validated_stream

__all__ = [
    "MetricsListener",
    "dedup_stream",
    "parse_event_stream",
    "read_event_file_stream",
    "validated_stream",
    "windowed_aggregate",
]
