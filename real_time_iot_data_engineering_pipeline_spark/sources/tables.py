"""Parquet table loaders for the driver fixtures (TESTDATA.md).

The `events` table plays the reference's IoT reading stream
(FIXTURES.md role mapping: user_id <-> sensor_id, ts <-> event time,
value <-> temperature, event_type <-> device_type, props <-> payload JSON).

events.ts is stored as parquet TIMESTAMP(NANOS), which Spark cannot map to a
Catalyst type; we read it as raw nanos (spark.sql.legacy.parquet.nanosAsLong)
and rebuild a TIMESTAMP_NTZ by adding microseconds to the NTZ epoch.  Using
NTZ everywhere makes results bit-identical to DuckDB's naive timestamps
regardless of either engine's session timezone — a correctness requirement
for the oracle comparison (SURVEY.md §7.4-1).

Scale note: loaders return the raw scan (no repartition, no cache) so
Catalyst can push filters/column pruning into the parquet reader; callers
express projections declaratively and the scan only reads what the plan
needs.

Schema catalog: reading parquet without a schema launches a Spark job that
infers it from the file footers (100-200 ms a call, against 17-60 ms with
the schema given), and queries load the same tables over and over.  So
load_table infers a table's schema once and reads later calls with
`.schema(...)`.  The catalog key is the table path, the st_mtime_ns and
size of its file (of every file under it, if the table is a directory),
and the session settings that change what parquet inference returns
(_INFERENCE_CONFS): a rewritten file, or a session that infers
differently, infers again.  A path that cannot be stat'ed locally (an
object-store URI) is inferred on every call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# timestampadd(MICROSECOND, epoch_micros, NTZ epoch) is timezone-independent:
# no instant<->wall conversion ever happens, unlike timestamp_micros() which
# produces a TIMESTAMP (instant) that would shift with the session timezone.
_NS_TO_NTZ = "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"


# Inputs at or above this size take the shuffle-restructured "scale" plan in
# queries that offer one (e.g. q_rank_per_group's bucketed two-phase rank);
# below it the plain single-window plan is faster because the restructuring
# overhead (extra broadcast joins, bucket bookkeeping) dominates at small
# sizes.  Measured crossover on local[32]: at ~2 MB parquet the plain window
# wins ~2x; at ~43 MB (2M rows) the two paths tie (2.10 s vs 2.04 s), so
# from there up the straggler-proof plan is free insurance.  256 MiB sits
# comfortably past the tie point while keeping toy inputs on the cheap path.
_SCALE_SWITCH_BYTES_DEFAULT = 256 << 20


def _file_stamps(path: str) -> tuple | None:
    """(relative path, st_mtime_ns, size) of the file at `path`, or of
    every file under it; None when the path cannot be stat'ed."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((".", st.st_mtime_ns, st.st_size),)
        stamps = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                stamps.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
        return tuple(sorted(stamps))
    except OSError:
        return None


def input_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of one fixture table, or None when the path isn't local
    (e.g. an object-store URI on a real cluster) — callers must then assume
    cluster scale."""
    stamps = _file_stamps(f"{sf_dir}/{name}.parquet")
    return None if stamps is None else sum(size for _, _, size in stamps)


def is_large_input(sf_dir: str, name: str = "events") -> bool:
    """Adaptive-plan switch: True = take the scale-restructured plan.
    Unknown size (non-local path) defaults to True — on a real cluster the
    scale plan is the safe choice.  Override the threshold with
    SPARK_GRAFT_SCALE_SWITCH_BYTES (tests set 0 to pin the scale path).

    The key is the BASE table's on-disk size even when the restructured
    stage runs over a smaller derived input (e.g. the per-key aggregate
    feeding a ranking window): an intentional conservative proxy.  Both
    plans are output-identical, the base size is free to read (no extra
    Spark job), and the failure mode of over-triggering is bounded bucket
    bookkeeping on a small input — versus a driver-side cardinality
    estimate per query, or under-triggering a SinglePartition window on a
    many-key aggregate, which is the 100 TB failure this switch exists to
    prevent."""
    threshold = int(
        os.environ.get("SPARK_GRAFT_SCALE_SWITCH_BYTES", _SCALE_SWITCH_BYTES_DEFAULT)
    )
    size = input_bytes(sf_dir, name)
    return size is None or size >= threshold


# Session settings that change the schema Spark infers for a parquet table:
# the four footer-type mappings, schema merging across a directory's files,
# and the typing of its partition columns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# One catalog per process, shared by every session: the key holds all that
# decides the inferred schema, and two callers racing on a miss both infer
# the same schema.
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path), with the schema from the catalog when
    this path, its files and the inference settings are unchanged."""
    stamps = _file_stamps(path)
    if stamps is None:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        stamps,
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes events.ts to TIMESTAMP_NTZ.

    The fixture generator has shipped events.ts as either parquet
    TIMESTAMP(NANOS) (which Spark can only read as a raw long, via
    spark.sql.legacy.parquet.nanosAsLong) or TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (which Spark reads natively as TIMESTAMP_NTZ).
    Branch on the type Spark actually inferred (the catalog keeps it for
    later calls) so both vintages normalize to the same TIMESTAMP_NTZ
    column.

    SIDE EFFECT: loading `events` sets spark.sql.legacy.parquet.nanosAsLong
    on the CALLER's session (the verify driver's session doesn't set it, and
    Spark offers no per-read knob for TIMESTAMP(NANOS) columns).  The flag
    persists for later parquet reads in that session; it only affects files
    with nanosecond timestamps."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # Runtime-settable; required to read TIMESTAMP(NANOS) columns even
        # when the caller's session (e.g. the verify driver's) didn't set it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):
            return df.withColumn("ts", F.expr(_NS_TO_NTZ))
        if ts_type == "timestamp":
            # Instant-typed read (session without NTZ inference): reinterpret
            # the wall-clock in the session tz (UTC, pinned in session.py) as
            # naive, matching DuckDB's naive TIMESTAMP view of the file.
            return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df  # already TIMESTAMP_NTZ
    return _read_parquet(spark, path)
