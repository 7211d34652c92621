"""Per-micro-batch quality metrics with live alert verdicts — the
reference's monitoring layer (Learning Guide.txt:1058 §5-6: alert when the
DLQ share exceeds 10%, a quality metric drops below 95%, or freshness
exceeds 5 minutes) evaluated inside the streaming topology instead of by an
out-of-band dashboard job.

The verdict logic is the SAME `alert_flags` the oracle-checked batch
operator uses (queries/validation.py::q_quality_alerts), applied to one
aggregate row per micro-batch; each epoch appends its row to a parquet
metrics table, so the alert history is queryable with the same engine.

Scale: the per-batch aggregate is a single partial+final reduction to ONE
row; the metrics write is one tiny file per epoch (epoch-keyed directory,
idempotent under Structured Streaming's epoch replay).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fround
from ..queries.validation import alert_flags
from ..sinks import micro_batch


class QualityMonitorSink:
    """foreachBatch body computing (dlq_share, validity_ratio,
    freshness_min) + alert verdicts for each micro-batch of a VALIDATED
    stream (must carry is_valid, value, ts).

    `now` pins the freshness clock for deterministic tests; production
    passes None and each batch uses its own processing time (the
    reference's freshness semantics — SURVEY §4.4-3 fixed: one clock read
    per batch, never per plan)."""

    def __init__(self, spark: SparkSession, out_dir: str, now: dt.datetime | None = None):
        self.spark = spark
        self.out_dir = out_dir
        self.now = now

    @micro_batch
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        now = self.now if self.now is not None else dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        now_str = now.strftime("%Y-%m-%d %H:%M:%S")
        agg = batch_df.agg(
            F.count(F.lit(1)).alias("n_total"),
            fround(F.avg(F.when(F.col("is_valid"), 0.0).otherwise(1.0)), 4).alias(
                "dlq_share"
            ),
            fround(
                F.avg(F.when(F.col("value").between(0, 100), 1.0).otherwise(0.0)), 4
            ).alias("validity_ratio"),
            F.max("ts").alias("_max_ts"),
        )
        metrics = agg.select(
            F.lit(int(epoch_id)).alias("epoch"),
            "n_total",
            "dlq_share",
            "validity_ratio",
            fround(
                F.expr(
                    f"timestampdiff(SECOND, _max_ts, TIMESTAMP_NTZ '{now_str}')"
                ).cast("double")
                / F.lit(60.0),
                4,
            ).alias("freshness_min"),
        )
        alert_flags(metrics).write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"epoch={int(epoch_id)}")
        )

    def read(self) -> DataFrame:
        """The accumulated alert history across epochs."""
        return self.spark.read.parquet(os.path.join(self.out_dir, "epoch=*"))


class DriftMonitorSink:
    """foreachBatch body scoring each micro-batch's value distribution
    against a FIXED reference histogram with the population stability
    index — the live twin of the oracle-checked batch operator
    queries/behavior.py::q_psi, sharing its binning (10 equi-width bins,
    width 50, top bin open), Laplace smoothing, and 0.1/0.25 stability
    bands.

    The reference histogram is computed ONCE at construction from a
    static DataFrame (yesterday's table, a curated sample — stream-static
    pattern) and carried as ten plain floats; per batch the DISTRIBUTED
    work is a 10-cell binned count, and the PSI fold over those ten
    cells runs driver-side exactly like QualityMonitorSink's single
    aggregate row.  Each epoch appends one row (epoch, n_values, psi,
    stability) to an epoch-keyed parquet table, idempotent under epoch
    replay."""

    N_BINS = 10
    BIN_WIDTH = 50.0
    STABLE_MAX = 0.1
    MODERATE_MAX = 0.25

    def __init__(self, spark: SparkSession, out_dir: str, reference: DataFrame):
        self.spark = spark
        self.out_dir = out_dir
        counts = dict.fromkeys(range(self.N_BINS), 0)
        for r in self._binned(reference).groupBy("bin").count().collect():
            counts[r["bin"]] = r["count"]
        total = sum(counts.values())
        self._ref_share = {
            b: (counts[b] + 1.0) / (total + self.N_BINS)
            for b in range(self.N_BINS)
        }

    def _binned(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col("value").isNotNull()).select(
            F.least(
                F.floor(F.col("value") / self.BIN_WIDTH).cast("int"),
                F.lit(self.N_BINS - 1),
            ).alias("bin")
        )

    @micro_batch
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import math

        counts = dict.fromkeys(range(self.N_BINS), 0)
        for r in self._binned(batch_df).groupBy("bin").count().collect():
            counts[r["bin"]] = r["count"]
        n = sum(counts.values())
        psi = 0.0
        for b in range(self.N_BINS):
            p = (counts[b] + 1.0) / (n + self.N_BINS)
            q = self._ref_share[b]
            psi += (p - q) * math.log(p / q)
        stability = (
            "stable"
            if psi < self.STABLE_MAX
            else "moderate"
            if psi < self.MODERATE_MAX
            else "shifted"
        )
        self.spark.createDataFrame(
            [(int(epoch_id), n, round(psi, 6), stability)],
            "epoch INT, n_values BIGINT, psi DOUBLE, stability STRING",
        ).write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"epoch={int(epoch_id)}")
        )

    def read(self) -> DataFrame:
        """The accumulated drift history across epochs."""
        return self.spark.read.parquet(os.path.join(self.out_dir, "epoch=*"))
