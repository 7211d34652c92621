"""Topic routing rules: one validated stream splits into the valid rows
and the dead-letter rows — the reference's validation consumer as stream
transformations.

The reference routes record-by-record in a Kafka consumer loop
(data_quality/validation_consumer.py:513-587): valid records to
`validated_iot_data` with data_quality_flag='valid', failures to
`dlq_iot_data` with `validation_failures` attached.  Here validation is the
same single-projection rule pass as the bounded queries
(queries/validation.py::_rules), and the split is two filters on its
`is_valid` column.  streaming/topology.run_topology starts each side as
its own query (the dlq branch, and the valid branch under with_valid),
Spark's form of writing two topics from one consumer; replay_dlq reads a
DLQ back through the current rules.

Scale: the rule pass is shuffle-free, and each side is an append-only
epoch-partitioned file sink (a Kafka sink would be
`to_kafka_sink_frame(...).write.format('kafka')` with the options in
sources/kafka.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.validation import failure_reasons
from ..queries.validation import _rules
from .pipeline import CORRUPT_COL


def validated_stream(events: DataFrame) -> DataFrame:
    """Attach failure_reasons / is_valid with the exact rule set the
    oracle-checked bounded queries use (validation_consumer.py:412-444)."""
    reasons = failure_reasons(_rules(events))
    return events.withColumn("failure_reasons", F.array_join(reasons, ";")).withColumn(
        "is_valid", F.size(reasons) == 0
    )


def dlq_rows(invalid: DataFrame) -> DataFrame:
    """The dead-letter row contract every DLQ writer shares (the topology's
    DLQ branch and `replay_dlq`'s still-failing rows), applied to the
    failing rows of `validated_stream`: reasons become
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
