"""SparkSession factory carrying the reference pipeline's tuning surface.

The reference configures its session at spark_streaming/streaming_job.py:172-189
(AQE + partition coalescing, Kryo, shuffle parallelism, RocksDB state store).
We keep those knobs, pin the session timezone to UTC for deterministic
timestamp semantics, and disable ANSI mode so string->number coercion is
tolerant (null-on-failure), matching the reference validator's semantics
(data_quality/validation_consumer.py:182-191).

Scale posture: shuffle partitions default to one per local core, which
is the width of batch shuffles (coalesced by AQE either way).  Streams
size their state from the input they admit per trigger instead: stateful
streaming operators get no AQE coalescing and fix their partition count
(one state store each) when a checkpoint is created, and
streaming/launch.start_query creates it with min(this value,
max_files_per_trigger) partitions, since a trigger of n small files has
at most n input partitions to feed them.  On a real cluster the session
value is overridden (under-partitioning is what hurts at 100 TB), and a
stream admitting more per trigger gets wider state up to it.

RocksDB state stores write changelog checkpoints: each micro-batch uploads
only the rows it changed, and a full snapshot is taken in the background
maintenance task.  A checkpoint written with snapshot-only checkpointing
resumes under this setting unchanged.

Checkpoint commits: every trigger writes its offset-log and commit-log
entries, and every state store its changelog, as a temp file renamed onto
the target.  Spark's default checkpoint manager renames through Hadoop's
FileContext, whose link-status lookup on a local path forks `readlink`
and a permission probe per file when the Hadoop client has no native
library (libhadoop), as in a pip-installed PySpark: about 54 child
processes per micro-batch of the topology's main query.
CHECKPOINT_FILE_MANAGER renames through FileSystem instead, which on a
local path is one rename(2): atomic, since a reader sees the old name or
the whole new file and never a partial one.  Where a log entry must not
be overwritten, the manager tests for the target before the rename, and a
local rename replaces an existing file, so two processes running a query
on one checkpoint directory at once could overwrite each other's offset
log entry without an error: one process at a time owns a checkpoint, and
nothing checks it across processes.  Without libhadoop every file create
still forks one `chmod` (RawLocalFileSystem.setPermission), about 20 per
main micro-batch.

Generated-code cache: Spark keeps the classes Janino compiled for
whole-stage codegen in one LRU cache per JVM, 100 entries by default.  The
engine's working set is larger: the 13-query batch_queries set uses 183
distinct generated classes and one run_topology drain compiles about 107,
so at the default a rotation through either evicts classes before their
next use and every warm run compiles them again (q_embed_outliers: 21-37
classes, 0.5-1.3 s of Janino time per run).  CODEGEN_CACHE_ENTRIES holds
both working sets together with headroom.  The setting is a static conf,
read once when the JVM first generates code, so it must be set here at
session build; a session built later in the same JVM, or a foreign
session, keeps the size the first session set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1000
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def build_session(
    app_name: str = "iot-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # In local mode executors share the driver JVM, whose default 1 GiB heap
    # is 32-way-divided across task slots — measured to OOM at the 10x-of-
    # sf0.1 scale fixture while the host has 128 GiB.  Sized here (takes
    # effect because the JVM launches on first session build); a real
    # cluster overrides per-executor memory in spark-submit instead.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        # Reference session tuning (streaming_job.py:172-189)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic, oracle-comparable semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # Driver fixtures store events.ts as parquet TIMESTAMP(NANOS)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for any pandas-UDF path (similarity/text/multimodal ops)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # RocksDB state store for streaming state (streaming_job.py:175-176)
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.sql.streaming.minBatchesToRetain", "100")
        .config("spark.sql.streaming.stopGracefullyOnShutdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
