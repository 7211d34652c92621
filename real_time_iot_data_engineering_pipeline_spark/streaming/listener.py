"""Streaming metrics + backpressure detection.

Twin of the reference's StreamingQueryListener (spark_streaming/
streaming_job.py:632-686): log input rate, batch duration, state rows and
offset progress per micro-batch, and warn when a batch exceeds the
backpressure threshold (BATCH_DURATION_WARN = 5 s, streaming_job.py:96,
577-581).  The reference pairs the warning with an ingest cap
(maxOffsetsPerTrigger=10000, :227 — carried by sources/kafka.py), which is
the actual backpressure mechanism; the listener is the observability half.

Beyond the reference's four numbers, each BatchMetrics keeps the progress
event's breakdown (the quantities the Structured Streaming paper reports
its evaluation through): the trigger's phase durations, the event-time
watermark, and per state operator its rows, rows dropped as late by the
watermark, state-store memory and state partitions — where a micro-batch's
time went and what its state costs, with no debugger.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql.streaming import listener as L

log = logging.getLogger(__name__)

SLOW_BATCH_SECONDS = 5.0  # streaming_job.py:96

# durationMs phases of one trigger, beside its total (triggerExecution)
PHASES = (
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "getBatch",
)


@dataclass
class StateOperatorMetrics:
    """One stateful operator's entry in a progress event."""

    name: str  # operatorName, e.g. stateStoreSave, dedupeWithinWatermark
    rows_total: int
    rows_updated: int
    rows_dropped_by_watermark: int
    memory_used_bytes: int
    # numShufflePartitions: the operator's state partitions (one store
    # each), fixed when its checkpoint was created (streaming/launch.py)
    shuffle_partitions: int


@dataclass
class BatchMetrics:
    batch_id: int
    num_input_rows: int
    duration_seconds: float
    state_rows: int  # numRowsTotal summed over the state operators
    is_slow: bool
    query_name: str | None = None  # progress.name; None for unnamed queries
    # progress.runId, the job group of every Spark job the run launches
    run_id: str | None = None
    # seconds per PHASES entry; a phase the trigger did not run reads 0.0
    phase_seconds: dict[str, float] = field(default_factory=dict)
    watermark: str | None = None  # eventTime.watermark (ISO-8601, UTC)
    state_operators: list[StateOperatorMetrics] = field(default_factory=list)


@dataclass
class MetricsListener(L.StreamingQueryListener):
    """Collects per-batch metrics; flags slow batches (backpressure)."""

    slow_batch_seconds: float = SLOW_BATCH_SECONDS
    batches: list[BatchMetrics] = field(default_factory=list)
    started: list[str] = field(default_factory=list)
    terminated: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        super().__init__()

    @property
    def slow_batches(self) -> list[BatchMetrics]:
        return [b for b in self.batches if b.is_slow]

    def onQueryStarted(self, event: L.QueryStartedEvent) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event: L.QueryProgressEvent) -> None:
        p = event.progress
        durations = p.durationMs or {}
        duration = durations.get("triggerExecution", 0) / 1000.0
        ops = [
            StateOperatorMetrics(
                name=op.operatorName,
                rows_total=op.numRowsTotal or 0,
                rows_updated=op.numRowsUpdated or 0,
                rows_dropped_by_watermark=op.numRowsDroppedByWatermark or 0,
                memory_used_bytes=op.memoryUsedBytes or 0,
                shuffle_partitions=op.numShufflePartitions or 0,
            )
            for op in (p.stateOperators or [])
        ]
        m = BatchMetrics(
            batch_id=p.batchId,
            num_input_rows=p.numInputRows or 0,
            duration_seconds=duration,
            state_rows=sum(op.rows_total for op in ops),
            is_slow=duration > self.slow_batch_seconds,
            query_name=p.name,
            run_id=str(p.runId),
            phase_seconds={ph: durations.get(ph, 0) / 1000.0 for ph in PHASES},
            watermark=(p.eventTime or {}).get("watermark"),
            state_operators=ops,
        )
        self.batches.append(m)
        if m.is_slow:
            # streaming_job.py:577-581 — the backpressure warning
            log.warning(
                "slow micro-batch %d: %.2fs > %.2fs threshold (%d rows)",
                m.batch_id,
                m.duration_seconds,
                self.slow_batch_seconds,
                m.num_input_rows,
            )
        else:
            log.info(
                "batch %d: %d rows in %.2fs (state rows=%d)",
                m.batch_id,
                m.num_input_rows,
                m.duration_seconds,
                m.state_rows,
            )

    def onQueryIdle(self, event: L.QueryIdleEvent) -> None:
        pass

    def onQueryTerminated(self, event: L.QueryTerminatedEvent) -> None:
        self.terminated.append(str(event.id))
