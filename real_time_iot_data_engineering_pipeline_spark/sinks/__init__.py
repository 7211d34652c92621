"""Sinks: idempotent keyed writers used by the streaming runtime's
foreachBatch (the engine's equivalent of the reference's MongoDB upsert sink,
spark_streaming/streaming_job.py:461-533, and PostgreSQL ON CONFLICT upsert,
spark_streaming/mongo_to_postgres_sync.py:378-399)."""

from .keyed_parquet import KeyedParquetSink
from .micro_batch import micro_batch
from .partition_writer import write_per_partition
from .retry import with_retry

__all__ = ["KeyedParquetSink", "micro_batch", "with_retry", "write_per_partition"]
