"""Starting and draining the engine's streaming queries.

The package's two streaming entry points, topology.run_topology and
doc_pipeline.run_doc_ingest, start their queries through `start_query`,
the one caller of `writeStream` in streaming/, and, when they drain with
AvailableNow, wait for them through `drain` (tests/test_launch.py checks
both rules).

State width.  A stateful operator (dedup, window aggregation, the
applyInPandasWithState twins) keeps one state store per shuffle
partition, and the count is fixed in the query's checkpoint when the
query is created (Structured Streaming, SIGMOD'18: the offset log records
`spark.sql.shuffle.partitions` and a restart restores it).  The file
source reads one input partition per file, so a trigger that admits at
most `max_files_per_trigger` small files has at most that many input
partitions, and a state stage wider than that opens, loads and commits
stores that receive no rows.  At the reference rate (one ~1,000-row file
per 10-s trigger) on 4 cores, each epoch of the topology's main query
used to run 4 stores for each of its two state operators to update
~1,000 rows.

`start_query` therefore sets `spark.sql.shuffle.partitions` to
min(session value, max_files_per_trigger) while `start()` runs and
restores it afterwards.  The query clones its session inside `start()`,
so the value holds for that query only: its first offset-log entry
records it, while batch queries and the caller's session keep their own.
A checkpoint that already exists keeps the count stored in it, because
Spark restores that value from the offset log over the session's.
Another thread planning a batch query on the same session during the
few milliseconds of `start()` would see the smaller value; the entry
points start their queries from the caller's thread.
"""

from __future__ import annotations

from collections.abc import Callable
from time import monotonic

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def start_query(
    df: DataFrame,
    checkpoint: str,
    max_files_per_trigger: int,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    path: str | None = None,
    name: str | None = None,
    mode: str = "update",
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start `df` into exactly one of a foreachBatch body or a parquet
    file sink at `path`, checkpointed at `checkpoint`, with AvailableNow
    (the default) or a `processing_time` trigger.  A new checkpoint's
    stateful stages get min(session shuffle partitions,
    max_files_per_trigger) state partitions (module docstring)."""
    writer = df.writeStream.outputMode(mode).option("checkpointLocation", checkpoint)
    if name is not None:
        writer = writer.queryName(name)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.format("parquet").option("path", path)
    if processing_time is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)

    conf = df.sparkSession.conf
    session_value = conf.get(SHUFFLE_PARTITIONS)
    conf.set(SHUFFLE_PARTITIONS, str(min(int(session_value), max_files_per_trigger)))
    try:
        return writer.start()
    finally:
        conf.set(SHUFFLE_PARTITIONS, session_value)


def drain(queries: list[StreamingQuery], timeout_seconds: float) -> None:
    """Wait for every query under one shared deadline, then stop each one
    still active.  `timeout_seconds` bounds the whole call, not each
    query: awaiting every query with the full budget let a stuck drain of
    n queries block for n times the caller's budget."""
    deadline = monotonic() + timeout_seconds
    try:
        for q in queries:
            left = deadline - monotonic()
            if left <= 0:  # awaitTermination rejects a timeout <= 0
                break
            q.awaitTermination(left)
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
