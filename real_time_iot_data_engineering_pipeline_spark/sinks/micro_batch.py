"""One execution per micro-batch for every foreachBatch body.

A foreachBatch frame is the epoch's whole incremental plan, stateful
operators included, and every action on it re-runs that plan: the state
stores are loaded, updated and committed again, and the progress event
counts each state operator's rows once per run.  A body that guards with
isEmpty() and then writes (the reference's df.rdd.isEmpty() fast path,
streaming_job.py:586-603) therefore pays for its epoch twice, and a body
with two writes pays once more per write.

`micro_batch` runs the plan exactly once, into executor block storage
(localCheckpoint, eager), skips the body when the epoch produced no rows,
hands it a frame that reads those blocks, and drops the blocks when the
body returns.  The row count is observed during the checkpoint job
itself, so the emptiness test launches no job of its own.  It does not
use persist(): on a foreachBatch frame under PySpark 4.1, persist()
raises NoSuchElementException ("key not found") in CacheManager.
"""

from __future__ import annotations

import functools
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def micro_batch(body: Callable[..., None]) -> Callable[..., None]:
    """Decorate a foreachBatch body `(..., batch_df, epoch_id)` — a plain
    function or a method — so it runs on the materialized epoch and only
    when the epoch is non-empty."""

    @functools.wraps(body)
    def run(*args) -> None:
        *head, batch_df, epoch_id = args
        # unique name: concurrent queries of one session run their bodies
        # at the same time
        rows = Observation(f"micro_batch_{uuid.uuid4().hex}")
        frame: DataFrame = batch_df.observe(
            rows, F.count(F.lit(1)).alias("rows")
        ).localCheckpoint(eager=True)
        try:
            if rows.get["rows"] > 0:
                body(*head, frame, epoch_id)
        finally:
            # Drop the epoch's blocks now rather than at the JVM's next GC.
            # SparkContext.unpersistRDD is RDD.unpersist without its
            # per-call warning that a local checkpoint cannot be recomputed.
            rdd = frame._jdf.queryExecution().logical().rdd()
            frame.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)

    return run
