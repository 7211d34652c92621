"""Streaming topic router: one validated stream fans out to a valid sink and
a dead-letter sink — the reference's validation consumer as a Spark stream.

The reference routes record-by-record in a Kafka consumer loop
(data_quality/validation_consumer.py:513-587): valid records to
`validated_iot_data` with data_quality_flag='valid', failures to
`dlq_iot_data` with `validation_failures` attached.  Here validation is the
same single-projection rule pass as the bounded queries
(queries/validation.py::_rules), computed ONCE per micro-batch inside
foreachBatch, then split by two filters — Spark's equivalent of writing two
topics from one consumer without re-reading or re-validating the input.

Scale: the rule pass is shuffle-free; foreachBatch writes each branch as an
append-only partitioned file sink (a Kafka sink would be
`to_kafka_sink_frame(...).write.format('kafka')` with the options in
sources/kafka.py — same plan, different format).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.validation import failure_reasons
from ..queries.validation import _rules
from ..sinks import micro_batch
from .launch import drain, start_query
from .pipeline import CORRUPT_COL, parse_event_stream, read_event_file_stream


def validated_stream(events: DataFrame) -> DataFrame:
    """Attach failure_reasons / is_valid with the exact rule set the
    oracle-checked bounded queries use (validation_consumer.py:412-444)."""
    reasons = failure_reasons(_rules(events))
    return events.withColumn("failure_reasons", F.array_join(reasons, ";")).withColumn(
        "is_valid", F.size(reasons) == 0
    )


def dlq_rows(invalid: DataFrame) -> DataFrame:
    """The dead-letter row contract every DLQ writer shares (the topology's
    DLQ branch, `RouterSink`, `replay_dlq`'s still-failing rows), applied
    to the failing rows of `validated_stream`: reasons become
    `validation_failures` and the flag is 'invalid'
    (validation_consumer.py:557-563).  A malformed-JSON row (all-null
    columns, raw line captured at the reader) gets a leading
    malformed:json reason and keeps the raw line as `raw_payload`: the
    quarantine holds what was received, not a row of nulls."""
    if CORRUPT_COL in invalid.columns:
        invalid = invalid.withColumn(
            "failure_reasons",
            F.when(
                F.col(CORRUPT_COL).isNotNull(),
                F.concat_ws(";", F.lit("malformed:json"), F.col("failure_reasons")),
            ).otherwise(F.col("failure_reasons")),
        )
    return (
        invalid.withColumnRenamed("failure_reasons", "validation_failures")
        .withColumnRenamed(CORRUPT_COL, "raw_payload")
        .withColumn("data_quality_flag", F.lit("invalid"))
        .drop("is_valid")
    )


class RouterSink:
    """foreachBatch body writing the valid / DLQ branches of one validated
    micro-batch (validation_consumer.py:495-510,557-563).  Appends are
    idempotent across epoch replays because each epoch writes to its own
    subdirectory (overwritten on replay)."""

    def __init__(self, root: str):
        self.root = root
        self.valid_dir = os.path.join(root, "valid")
        self.dlq_dir = os.path.join(root, "dlq")

    @micro_batch
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        validated = validated_stream(batch_df)
        valid = validated.filter("is_valid").withColumn(
            "data_quality_flag", F.lit("valid")
        )
        # per-epoch subdirs => replaying an epoch overwrites its own output
        # instead of appending duplicates (exactly-once with checkpointing)
        valid.drop("is_valid", CORRUPT_COL).write.mode("overwrite").parquet(
            os.path.join(self.valid_dir, f"epoch={int(epoch_id)}")
        )
        dlq_rows(validated.filter(~F.col("is_valid"))).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.dlq_dir, f"epoch={int(epoch_id)}"))

    def read_valid(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.valid_dir).parquet(
            self.valid_dir + "/epoch=*"
        )

    def read_dlq(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.dlq_dir).parquet(
            self.dlq_dir + "/epoch=*"
        )


def run_router(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    timeout_seconds: float = 120.0,
) -> RouterSink:
    """events file stream -> parse -> foreachBatch valid/DLQ fan-out."""
    raw = parse_event_stream(
        read_event_file_stream(spark, source_dir, max_files_per_trigger)
    )
    sink = RouterSink(out_dir)
    query = start_query(
        raw, checkpoint_dir, max_files_per_trigger, foreach_batch=sink, mode="append"
    )
    drain([query], timeout_seconds)
    return sink


class ReplayResult:
    """Outcome of a DLQ replay: `recovered` rows now pass validation (the
    quarantine metadata stripped, ready for re-ingest); `still_failing`
    rows keep their CURRENT failure reasons (which may differ from the
    reasons they were quarantined under, if rules changed)."""

    def __init__(self, recovered: DataFrame, still_failing: DataFrame):
        self.recovered = recovered
        self.still_failing = still_failing


def replay_dlq(spark: SparkSession, dlq_dir: str) -> ReplayResult:
    """Re-drive quarantined events through the CURRENT validation rules —
    the operational second half of every dead-letter queue (the reference
    only ever writes its dlq topic; nothing reads it back).  After a rule
    fix or an upstream data repair, rows that now validate come back
    clean for re-ingest; the rest stay quarantined with refreshed
    reasons, so the DLQ never silently accumulates rows that would pass
    today's rules.

    Re-ingest contract: recovered rows feed the SAME batch/stream entry
    points as fresh data (the windowed aggregate + keyed upsert, or the
    incremental mart refresh) — aggregate repair is a recompute of the
    affected windows over valid+recovered input, exactly the
    mart_daily_incremental_refresh pattern, not an in-place aggregate
    edit.

    Scale: validation is the same shuffle-free single-projection rule
    pass as ingest; the replay reads only the DLQ (quarantine-sized, not
    corpus-sized) and epoch subdirectories prune by partition discovery.

    A quarantined raw line goes back under the reader's corrupt-record
    column, so a row that stays quarantined keeps its malformed:json
    reason and `raw_payload`, and recovered rows carry neither."""
    dlq = spark.read.parquet(os.path.join(dlq_dir, "epoch=*"))
    bare = dlq.drop("validation_failures", "data_quality_flag")
    revalidated = validated_stream(
        bare.withColumnRenamed("raw_payload", CORRUPT_COL)
    )
    recovered = revalidated.filter("is_valid").drop(
        "failure_reasons", "is_valid", CORRUPT_COL
    )
    still_failing = dlq_rows(revalidated.filter(~F.col("is_valid")))
    return ReplayResult(recovered, still_failing)
