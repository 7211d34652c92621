"""The reference's COMPLETE dataflow as one Spark streaming topology, and
the one entry point for the event stream.

Reference (SURVEY.md §3.3):

    generator -> [raw] -> validator -> [validated] -> window agg -> Mongo
                              `-> [dlq]                  (upsert)    `-> Postgres

— four processes, three Kafka topics, two databases.  Here it is two
Structured Streaming queries over ONE file source:

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

Optional branches fan out from the same validated stream, each its own
query `topology-<name>` with its own checkpoint `ckpt-topology-<name>`: a
per-batch quality monitor (with_monitor), a drift monitor
(drift_reference), and the append branches of one table, each writing
`<out_dir>/<name>/epoch=<id>`, read back with TopologyResult.read(name):
the validated topic (valid), the stream-stream attribution join
(attribution, streaming/stream_join.py) and the stateful twins of
streaming/stateful.py (cusum, zscore, flood, sample, quantiles).

Late rows.  dropDuplicatesWithinWatermark runs before the window
aggregate, so a row whose event time is at or below the late-event
watermark is dropped there, whatever window it falls in;
windowed_aggregate on its own drops a late row only once its window END
is at or below that watermark (tests/test_topology.py pins both).

Per-epoch work.  The main path's keyed sink runs each epoch's dedup and
window aggregation inside its merge write, whose job also counts the
rows to skip an empty epoch (sinks/keyed_parquet.py), so their state
stores commit once per epoch.  Every append branch, stateless (dlq,
valid) or stateful, acts on its epoch once: it writes the frame straight
to `epoch=<id>` in one job, so the epoch's plan, state stores included,
runs once.  An epoch with no such rows leaves an empty epoch directory,
which read(name) and replay_dlq read as zero rows.

Every query starts through streaming/launch.start_query, so a new
checkpoint's state stages are no wider than the files one trigger admits
(max_files_per_trigger).  With the default AvailableNow trigger the call
drains every query under one deadline (launch.drain); with a
processing_time trigger (the reference's continuous 10-second
micro-batches) it returns with the queries running.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sinks import KeyedParquetSink
from .launch import drain, start_query
from .monitor import DriftMonitorSink, QualityMonitorSink
from .pipeline import (
    AGG_KEY_COLS,
    CORRUPT_COL,
    dedup_stream,
    parse_event_stream,
    read_event_file_stream,
    windowed_aggregate,
)
from .router import dlq_rows, validated_stream
from .stateful import (
    cusum_stream,
    heavy_hitters_stream,
    quantile_stream,
    sample_stream,
    zscore_stream,
)
from .stream_join import attribute_clicks, split_by_type


@dataclass
class TopologyResult:
    """What run_topology started.  `queries` holds every query's handle:
    drained and stopped under AvailableNow, still running under a
    processing-time trigger, where the caller stops them (scanning
    spark.streams.active would take queries that share the session)."""

    spark: SparkSession
    out_dir: str
    aggregates: KeyedParquetSink
    queries: list[StreamingQuery]
    monitor: QualityMonitorSink | None = None
    drift: DriftMonitorSink | None = None

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.out_dir, "dlq")

    def read(self, name: str) -> DataFrame:
        """Every epoch the append branch `name` (dlq, valid, attribution,
        cusum, zscore, flood, sample, quantiles) wrote."""
        return self.spark.read.parquet(os.path.join(self.out_dir, name, "epoch=*"))

    def read_dlq(self) -> DataFrame:
        return self.read("dlq")


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
    with_valid: bool = False,
    processing_time: str | None = None,
) -> TopologyResult:
    """Run source_dir through the full validate->route->dedup->window->
    upsert topology.  With processing_time=None every query drains what
    source_dir holds with Trigger.AvailableNow, within timeout_seconds;
    a processing_time such as '10 seconds' starts every query on that
    trigger and returns without waiting.

    window_family: 'tumbling' (reference default), 'sliding', or 'session'
    (streaming/pipeline.py WINDOW_FAMILIES).  Session windows require
    APPEND output mode (a session emits exactly once, when the watermark
    passes its end and it can no longer merge) — update mode is a Spark
    error for them; the keyed upsert sink is mode-agnostic, so only the
    writer's outputMode changes.

    compact_every > 0 runs the sink's small-file compaction after every
    Nth epoch inside foreachBatch (sinks/keyed_parquet.py) — the
    long-running-stream maintenance knob.

    with_valid writes the validated topic: the valid rows with their
    validation columns, minus is_valid and the corrupt-record column,
    flagged data_quality_flag='valid' (validation_consumer.py:495-510)."""
    agg_sink = KeyedParquetSink(spark, os.path.join(out_dir, "aggs"), AGG_KEY_COLS)

    def start(df: DataFrame, name: str, fb, mode: str = "update"):
        return start_query(
            df,
            os.path.join(out_dir, f"ckpt-topology-{name}"),
            max_files_per_trigger,
            foreach_batch=fb,
            name=f"topology-{name}",
            mode=mode,
            processing_time=processing_time,
        )

    def epoch_writer(name: str):
        """foreachBatch body writing each micro-batch to
        out_dir/<name>/epoch=<id>, overwritten on replay (idempotent)."""
        target_dir = os.path.join(out_dir, name)

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
    queries = [
        start(
            main,
            "main",
            agg_sink.foreach_batch(retry_attempts=3, compact_every=compact_every),
            mode="append" if window_family == "session" else "update",
        ),
        # DLQ path: invalid rows -> append with their reasons
        start(dlq_rows(validated.filter(~F.col("is_valid"))), "dlq", epoch_writer("dlq")),
    ]

    # per-batch quality metrics + alert verdicts over the SAME validated
    # stream (Learning Guide §5-6)
    monitor = None
    if with_monitor:
        monitor = QualityMonitorSink(
            spark, os.path.join(out_dir, "monitor"), now=monitor_now
        )
        queries.append(start(validated, "monitor", monitor))

    # per-batch PSI of the valid values against a fixed reference
    # histogram (stream-static) — the live twin of queries/behavior.py::q_psi
    drift = None
    if drift_reference is not None:
        drift = DriftMonitorSink(
            spark, os.path.join(out_dir, "drift"), drift_reference
        )
        queries.append(start(valid_events, "drift", drift))

    # The append branches: name -> frame.  Each stateful one is the live
    # twin of a batch operator (q_click_attribution, q_cusum,
    # q_zscore_flag, q_heavy_hitters, q_bottomk_sample, q_quantile_summary)
    # with its state carried across micro-batches.
    branches: dict[str, DataFrame] = {}
    if with_valid:
        valid = validated.filter("is_valid").drop("is_valid", CORRUPT_COL)
        branches["valid"] = valid.withColumn("data_quality_flag", F.lit("valid"))
    if with_attribution:
        views = split_by_type(valid_events, "view")
        clicks = split_by_type(valid_events, "click")
        branches["attribution"] = attribute_clicks(views, clicks)
    if cusum_mu0 is not None:
        branches["cusum"] = cusum_stream(valid_events, mu0=cusum_mu0)
    if with_zscore_gate:
        branches["zscore"] = zscore_stream(valid_events)
    if with_flood_detector:
        branches["flood"] = heavy_hitters_stream(valid_events)
    if with_sampler:
        branches["sample"] = sample_stream(valid_events)
    if with_quantiles:
        branches["quantiles"] = quantile_stream(valid_events)
    for name, frame in branches.items():
        queries.append(start(frame, name, epoch_writer(name), mode="append"))

    if processing_time is None:
        drain(queries, timeout_seconds)
    return TopologyResult(spark, out_dir, agg_sink, queries, monitor, drift)
