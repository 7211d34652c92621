"""The event stream's stages: parse -> watermark -> windowed agg, which
streaming/topology.run_topology wires into the keyed upsert.

This is the engine's twin of the reference's Spark job
(spark_streaming/streaming_job.py):

  readStream                         :205-230   (kafka; here: file source seam)
  from_json / select / to_timestamp  :233-271   parse_event_stream
  withWatermark('...', '1 minute')   :303       windowed_aggregate
  groupBy(key, window(ts, '5 min'))  :301-327   windowed_aggregate
  outputMode('update')               :735       topology.run_topology (main)
  trigger(processingTime='10 s')     :736       run_topology(processing_time=
                                                '10 seconds'); AvailableNow
                                                by default, for determinism
  foreachBatch(keyed upsert)         :733-739   sinks.KeyedParquetSink

The bounded algebraic twin of the aggregation is queries/core.py::
q_tumbling_agg (oracle-checked); the tests in tests/test_streaming.py check
the *streaming-only* semantics on top: late-beyond-watermark drops,
update-mode re-emission, checkpoint restart, replay idempotence.

Scale posture: the streaming agg is a keyed state-store aggregation — state
size is bounded by (#keys x #open-windows) and the watermark evicts closed
windows (RocksDB state store configured in session.py).  maxFilesPerTrigger /
maxOffsetsPerTrigger cap per-batch input so one slow batch cannot snowball
(backpressure envelope, streaming_job.py:96,227), and the same cap sizes a
new checkpoint's state stages (streaming/launch.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Wire schema of one event message (the JSON the reference puts on Kafka —
# streaming_job.py:103-124; field roles per FIXTURES.md Part A: user_id <->
# sensor_id, value <-> temperature, event_type <-> device_type).
EVENT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),  # ISO-8601; parsed downstream
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Reader-side corrupt capture: a line that is not valid JSON parses to an
# all-null row in PERMISSIVE mode and would vanish into the hygiene filters
# — the reference's validator instead quarantines the RAW message
# (validation_consumer.py malformed-JSON branch).  Capturing the raw line
# in CORRUPT_COL preserves the payload so the DLQ keeps what was actually
# received, not a row of nulls.
CORRUPT_COL = "_corrupt_record"
EVENT_WIRE_SCHEMA_WITH_CORRUPT = T.StructType(
    EVENT_WIRE_SCHEMA.fields + [T.StructField(CORRUPT_COL, T.StringType())]
)

WATERMARK_DELAY = "1 minute"  # streaming_job.py:81,303
WINDOW_DURATION = "5 minutes"  # streaming_job.py:80,306

# Window families (batch twins: queries/core.py::q_tumbling_agg,
# queries/windows.py::q_sliding_agg / q_session_agg — same durations).
WINDOW_FAMILIES = ("tumbling", "sliding", "session")
SLIDING_WINDOW_DURATION = "10 minutes"
SLIDE_DURATION = "5 minutes"
SESSION_GAP = "5 minutes"


def read_event_file_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of JSON-lines event files.

    The test seam for the Kafka source (sources/kafka.py carries the real
    options): one file ~ one micro-batch when max_files_per_trigger=1, which
    makes watermark progression deterministic — files are picked up in
    modification-time order, the reference's offset order."""
    return (
        spark.readStream.schema(EVENT_WIRE_SCHEMA_WITH_CORRUPT)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(source_dir)
    )


def parse_event_stream(raw: DataFrame) -> DataFrame:
    """Parse + hygiene filters, mirroring parse_kafka_messages
    (streaming_job.py:233-271): string ts -> timestamp, then drop rows with
    an unparseable timestamp or a null key (:264-267)."""
    cols = raw.columns
    hygiene = F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    if CORRUPT_COL in cols:
        # Malformed lines survive the hygiene filters so the topology can
        # quarantine them WITH their raw payload; well-formed rows with an
        # unparseable ts / null key are dropped here exactly as before
        # (streaming_job.py:264-267).
        hygiene = hygiene | F.col(CORRUPT_COL).isNotNull()
    return (
        raw.withColumn("ts", F.to_timestamp("ts"))
        .filter(hygiene)
    )


def windowed_aggregate(
    events: DataFrame,
    watermark_delay: str | None = WATERMARK_DELAY,
    window_duration: str = WINDOW_DURATION,
    family: str = "tumbling",
) -> DataFrame:
    """Watermarked 5-minute tumbling-window aggregate per key
    (streaming_job.py:278-353; agg list :308-327).

    `max(event_type)` reproduces the reference's metadata smuggle — "any
    non-null value" semantics for denormalized dimension columns (:323-326,
    SURVEY.md §4.4-6).  processed_at is a real per-batch current_timestamp,
    fixing the reference's plan-time lit(datetime.now()) bug (:346-349,
    SURVEY.md §4.4-1).

    watermark_delay=None means the input ALREADY carries a watermark (e.g.
    downstream of dedup_stream — Spark forbids redefining it when chaining
    stateful operators).

    family selects the window assignment (durations above): 'tumbling'
    (default, the reference's), 'sliding' (10 min / 5 min — each event in 2
    windows), or 'session' (5-min gap — sessions only FINALIZE when the
    watermark passes their end, so streaming callers must use APPEND output
    mode; Spark rejects update mode for session windows)."""
    if family not in WINDOW_FAMILIES:
        raise ValueError(f"unknown window family {family!r}; use {WINDOW_FAMILIES}")
    if watermark_delay is not None:
        events = events.withWatermark("ts", watermark_delay)
    if family == "sliding":
        w = F.window("ts", SLIDING_WINDOW_DURATION, SLIDE_DURATION)
    elif family == "session":
        w = F.session_window("ts", SESSION_GAP)
    else:
        w = F.window("ts", window_duration)
    return (
        events
        .groupBy("user_id", w.alias("w"))
        .agg(
            F.avg("value").alias("avg_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.sum("value").alias("sum_value"),
            F.count("*").alias("count"),
            F.max("event_type").alias("event_type"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "avg_value",
            "max_value",
            "min_value",
            "sum_value",
            "count",
            "event_type",
            F.current_timestamp().alias("processed_at"),
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark_delay: str = WATERMARK_DELAY,
) -> DataFrame:
    """Streaming exact-dedup on message identity within the watermark —
    the stateful twin of the validator's duplicate tracker
    (data_quality/validation_consumer.py:353-409) and of the bounded
    queries/dedup.py::q_dedup_window.

    dropDuplicatesWithinWatermark keeps per-key state only until the
    watermark passes it (the reference expires its in-process seen-dict
    after 1 minute, :397-404) — so a duplicate arriving within the watermark
    is dropped, while one arriving after state expiry is emitted again,
    exactly the reference's at-least-once posture."""
    keys = keys or ["user_id", "event_id"]
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


AGG_KEY_COLS = ["user_id", "window_start"]  # streaming_job.py:419-423 upsert key
