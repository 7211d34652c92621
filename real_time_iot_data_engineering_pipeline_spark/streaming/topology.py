"""The reference's COMPLETE dataflow as one Spark streaming topology.

Reference (SURVEY.md §3.3):

    generator -> [raw] -> validator -> [validated] -> window agg -> Mongo
                              `-> [dlq]                  (upsert)    `-> Postgres

— four processes, three Kafka topics, two databases.  Here it is two
Structured Streaming queries over ONE file/Kafka source:

    main path:  parse -> validate (rule projection) -> keep valid
                -> dropDuplicatesWithinWatermark (the validator's dup state)
                -> watermark + 5-min window agg -> keyed upsert sink
    dlq path:   parse -> validate -> keep invalid -> append DLQ files

Two queries because the branches need independent sinks/checkpoints —
exactly how Spark expresses topic fan-out; each is exactly-once through its
own checkpoint.  They do not share a scan: each query has its own
FileStreamSource, which lists, reads, parses and validates every file
again.  The Mongo->Postgres hop disappears: the keyed sink IS the
queryable table (sinks/catalog.py registers it for SQL access).

Optional branches fan out from the same validated stream: a per-batch
quality monitor (with_monitor) and the stream-stream attribution join
(with_attribution — views joined to clicks within the window,
streaming/stream_join.py), each with its own checkpoint.

Every branch's foreachBatch body is wrapped by sinks.micro_batch: the
epoch's plan runs once, into a local checkpoint whose job also counts the
rows, and an empty epoch is skipped.  So the main path's emptiness check
and its merge write share one run of the dedup and window aggregation,
whose state stores commit once per epoch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks import KeyedParquetSink, micro_batch
from .monitor import DriftMonitorSink, QualityMonitorSink
from .pipeline import (
    AGG_KEY_COLS,
    CORRUPT_COL,
    dedup_stream,
    parse_event_stream,
    read_event_file_stream,
    windowed_aggregate,
)
from .router import validated_stream
from .stream_join import attribute_clicks, split_by_type


class TopologyResult:
    def __init__(
        self,
        spark: SparkSession,
        agg_sink: KeyedParquetSink,
        dlq_dir: str,
        monitor: QualityMonitorSink | None = None,
        attribution_dir: str | None = None,
        drift: DriftMonitorSink | None = None,
        cusum_dir: str | None = None,
        zscore_dir: str | None = None,
        flood_dir: str | None = None,
        sample_dir: str | None = None,
        quantile_dir: str | None = None,
    ):
        self.spark = spark
        self.aggregates = agg_sink
        self.dlq_dir = dlq_dir
        self.monitor = monitor
        self.attribution_dir = attribution_dir
        self.drift = drift
        self.cusum_dir = cusum_dir
        self.zscore_dir = zscore_dir
        self.flood_dir = flood_dir
        self.sample_dir = sample_dir
        self.quantile_dir = quantile_dir

    def read_cusum(self) -> DataFrame:
        assert self.cusum_dir is not None
        return self.spark.read.parquet(self.cusum_dir + "/epoch=*")

    def read_zscore(self) -> DataFrame:
        assert self.zscore_dir is not None
        return self.spark.read.parquet(self.zscore_dir + "/epoch=*")

    def read_sample(self) -> DataFrame:
        assert self.sample_dir is not None
        return self.spark.read.parquet(self.sample_dir + "/epoch=*")

    def read_quantiles(self) -> DataFrame:
        assert self.quantile_dir is not None
        return self.spark.read.parquet(self.quantile_dir + "/epoch=*")

    def read_flood(self) -> DataFrame:
        assert self.flood_dir is not None
        return self.spark.read.parquet(self.flood_dir + "/epoch=*")

    def read_dlq(self) -> DataFrame:
        return self.spark.read.parquet(self.dlq_dir + "/epoch=*")

    def read_attribution(self) -> DataFrame:
        assert self.attribution_dir is not None
        return self.spark.read.parquet(self.attribution_dir + "/epoch=*")


def run_topology(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    timeout_seconds: float = 180.0,
    window_family: str = "tumbling",
    monitor_now=None,
    with_monitor: bool = False,
    with_attribution: bool = False,
    compact_every: int = 0,
    drift_reference: DataFrame | None = None,
    cusum_mu0: float | None = None,
    with_zscore_gate: bool = False,
    with_flood_detector: bool = False,
    with_sampler: bool = False,
    with_quantiles: bool = False,
) -> TopologyResult:
    """Drain source_dir through the full validate->route->dedup->window->
    upsert topology with Trigger.AvailableNow on both branches.

    window_family: 'tumbling' (reference default), 'sliding', or 'session'
    (streaming/pipeline.py WINDOW_FAMILIES).  Session windows require
    APPEND output mode (a session emits exactly once, when the watermark
    passes its end and it can no longer merge) — update mode is a Spark
    error for them; the keyed upsert sink is mode-agnostic, so only the
    writer's outputMode changes.

    compact_every > 0 runs the sink's small-file compaction after every
    Nth epoch inside foreachBatch (sinks/keyed_parquet.py) — the
    long-running-stream maintenance knob."""
    agg_sink = KeyedParquetSink(spark, os.path.join(out_dir, "aggs"), AGG_KEY_COLS)
    dlq_dir = os.path.join(out_dir, "dlq")

    def start(df: DataFrame, name: str, fb, mode: str = "update") -> object:
        return (
            df.writeStream.outputMode(mode)
            .queryName(name)
            .option("checkpointLocation", os.path.join(out_dir, f"ckpt-{name}"))
            .foreachBatch(fb)
            .trigger(availableNow=True)
            .start()
        )

    def epoch_writer(target_dir: str):
        """foreachBatch body appending each non-empty micro-batch under its
        own epoch directory (idempotent on replay) — shared by every
        file-append branch of the topology."""

        @micro_batch
        def _write(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(target_dir, f"epoch={int(epoch_id)}")
            )

        return _write

    raw = parse_event_stream(
        read_event_file_stream(spark, source_dir, max_files_per_trigger)
    )
    validated = validated_stream(raw)
    valid_events = validated.filter("is_valid").drop(
        "failure_reasons", "is_valid", CORRUPT_COL
    )

    # main path: valid -> dedup(state) -> window agg -> keyed upsert.
    # dedup_stream sets the event-time watermark; the chained aggregation
    # must NOT redefine it (multiple stateful operators share one watermark)
    main = windowed_aggregate(
        dedup_stream(valid_events),
        watermark_delay=None,
        family=window_family,
    )
    q_main = start(
        main,
        "topology-main",
        agg_sink.foreach_batch(retry_attempts=3, compact_every=compact_every),
        mode="append" if window_family == "session" else "update",
    )

    # DLQ path: invalid -> append with reasons (validation_consumer.py:557-563).
    # Malformed-JSON rows (all-null columns, raw line captured at the reader)
    # are tagged with a leading malformed:json reason and keep the raw
    # payload — the quarantine holds what was received, not a row of nulls.
    dlq = (
        validated.filter(~F.col("is_valid"))
        .withColumn(
            "failure_reasons",
            F.when(
                F.col(CORRUPT_COL).isNotNull(),
                F.concat_ws(
                    ";", F.lit("malformed:json"), F.col("failure_reasons")
                ),
            ).otherwise(F.col("failure_reasons")),
        )
        .withColumnRenamed("failure_reasons", "validation_failures")
        .withColumnRenamed(CORRUPT_COL, "raw_payload")
        .withColumn("data_quality_flag", F.lit("invalid"))
        .drop("is_valid")
    )

    q_dlq = start(dlq, "topology-dlq", epoch_writer(dlq_dir))

    # optional attribution branch: stream-stream interval join of the
    # VALIDATED stream against itself (view -> click within the window),
    # append-mode, its own checkpoint — the fourth consumer of the shared
    # source listing
    attribution_dir = None
    q_attr = None
    if with_attribution:
        attribution_dir = os.path.join(out_dir, "attribution")
        attributed = attribute_clicks(
            split_by_type(valid_events, "view"),
            split_by_type(valid_events, "click"),
        )
        q_attr = start(
            attributed,
            "topology-attribution",
            epoch_writer(attribution_dir),
            mode="append",
        )

    # optional monitoring branch (Learning Guide §5-6): per-batch quality
    # metrics + alert verdicts over the SAME validated stream
    monitor = None
    queries = [q_main, q_dlq]
    if q_attr is not None:
        queries.append(q_attr)
    if with_monitor:
        monitor = QualityMonitorSink(
            spark, os.path.join(out_dir, "monitor"), now=monitor_now
        )
        queries.append(start(validated, "topology-monitor", monitor))

    # optional drift branch: per-batch PSI of the VALID stream's value
    # distribution against a fixed reference histogram (stream-static) —
    # the live twin of queries/behavior.py::q_psi
    drift = None
    if drift_reference is not None:
        drift = DriftMonitorSink(
            spark, os.path.join(out_dir, "drift"), drift_reference
        )
        queries.append(start(valid_events, "topology-drift", drift))

    # optional online-CUSUM branch: per-sensor changepoint alarms with
    # state carried across micro-batches (streaming/stateful.py) — the
    # live twin of the batch q_cusum operator
    cusum_dir = None
    if cusum_mu0 is not None:
        from .stateful import cusum_stream

        cusum_dir = os.path.join(out_dir, "cusum")
        flagged = cusum_stream(valid_events, mu0=cusum_mu0)
        queries.append(
            start(flagged, "topology-cusum", epoch_writer(cusum_dir), mode="append")
        )

    # optional online z-score gate: per-sensor Welford moments carried
    # across micro-batches (streaming/stateful.py::zscore_stream) — the
    # live twin of the batch q_zscore_flag operator
    zscore_dir = None
    if with_zscore_gate:
        from .stateful import zscore_stream

        zscore_dir = os.path.join(out_dir, "zscore")
        queries.append(
            start(
                zscore_stream(valid_events),
                "topology-zscore",
                epoch_writer(zscore_dir),
                mode="append",
            )
        )

    # optional flood-detector branch: bounded-memory Misra-Gries heavy
    # hitters per hash bucket (streaming/stateful.py) — the live twin of
    # the batch q_heavy_hitters flood/hot-key report
    flood_dir = None
    if with_flood_detector:
        from .stateful import heavy_hitters_stream

        flood_dir = os.path.join(out_dir, "flood")
        queries.append(
            start(
                heavy_hitters_stream(valid_events),
                "topology-flood",
                epoch_writer(flood_dir),
                mode="append",
            )
        )

    # optional audit-sample branch: deterministic bottom-k-by-hash uniform
    # sample of the VALID stream folded across micro-batches
    # (streaming/stateful.py::sample_stream) — the live twin of the batch
    # q_bottomk_sample, giving operators a stable inspection sample of
    # what the pipeline actually admitted
    sample_dir = None
    if with_sampler:
        from .stateful import sample_stream

        sample_dir = os.path.join(out_dir, "sample")
        queries.append(
            start(
                sample_stream(valid_events),
                "topology-sample",
                epoch_writer(sample_dir),
                mode="append",
            )
        )

    # optional distribution-summary branch: per-event-type fixed-bin
    # histogram quantiles (p50/p90/p99 with an explicit error bound) folded
    # across micro-batches (streaming/stateful.py::quantile_stream) — the
    # live twin of the batch q_quantile_summary, bounded state per key
    quantile_dir = None
    if with_quantiles:
        from .stateful import quantile_stream

        quantile_dir = os.path.join(out_dir, "quantiles")
        queries.append(
            start(
                quantile_stream(valid_events),
                "topology-quantiles",
                epoch_writer(quantile_dir),
                mode="append",
            )
        )

    try:
        for q in queries:
            q.awaitTermination(timeout_seconds)
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
    return TopologyResult(
        spark,
        agg_sink,
        dlq_dir,
        monitor,
        attribution_dir,
        drift,
        cusum_dir,
        zscore_dir,
        flood_dir,
        sample_dir,
        quantile_dir,
    )
