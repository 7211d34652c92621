"""The stream's stateful operators: per-key folds carried across
micro-batches in GroupState, behind one adapter.

A stream cannot look back or ahead, so every operator here REMEMBERS what
it needs per key, through applyInPandasWithState (SURVEY §2.9): Arrow-
batched pandas per key group, an explicit GroupState, and a watermark-
driven event-time timeout that evicts idle keys.  That contract is written
once, in `group_fold`, and wired once, in `apply_group_fold`:

- On a timeout the key's state is removed, nothing is emitted and the
  timeout is never re-armed (re-arming would keep a dead key alive for
  good, and a summary would be re-emitted on every eviction).
- Otherwise the step gets the prior state, or its initial value when the
  key has none, and the key group's rows as ONE frame (in event order when
  the fold is order-dependent), and returns the new state and the rows to
  emit.
- The timeout is re-armed TTL past the later of the watermark and the
  group's max `ts` (arm_idle_timeout); an operator without a TTL keeps its
  state for the life of the query.

Each operator is then its step function alone (the factory names `_detect`
... `_cap` return the adapted `fn(key, pdfs, state)`, which the fold tests
drive directly with a stand-in state):

- sudden_change_stream (`_detect`): per-sensor delta to the previous
  reading, the live twin of queries/analytics.py::q_sudden_change.
- cusum_stream (`_cusum`): online CUSUM, twin of q_cusum / q_cusum_alarm.
- zscore_stream (`_zscore`): Welford moments, twin of q_zscore_flag /
  q_welford_stats.
- heavy_hitters_stream (`_misra_gries`): Misra-Gries per hash bucket,
  twin of q_heavy_hitters / q_misra_gries (one `misra_gries_update`).
- sample_stream (`_bottom_k`): bottom-k by MD5, twin of q_bottomk_sample.
- quantile_stream (`_hist_fold`): fixed-bin histogram quantiles, twin of
  q_quantile_summary.
- distinct_stream (`_kmv`): K-minimum-values distinct count, twin of
  q_distinct_users.
- source_cap_stream (`_cap`): first-k admission per source, no timeout,
  twin of q_source_cap.
- streaming/near_dup.py::near_dup_stream (`_bucket_fold`): the LSH band
  bucket store.

Scale: every state is bounded per key (a pair, a few doubles, or a
capacity-sized summary) and evicted by the timeout; each micro-batch
shuffles once on the operator's key.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# step(key, prior state, the key group's rows) -> (new state, rows to emit)
Step = Callable[[tuple[Any, ...], tuple, pd.DataFrame], tuple[tuple, pd.DataFrame]]
# applyInPandasWithState's function: fn(key, pdfs, state) -> frames to emit
Fold = Callable[
    [tuple[Any, ...], Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]
]


def arm_idle_timeout(state: GroupState, batch_max_ts, ttl_ms: int) -> None:
    """Arm the idle-eviction deadline at TTL past the LATER of the current
    watermark and this batch's own max event time.  In the FIRST micro-batch
    the watermark is still 0 (it lags one batch), so a watermark-only
    deadline is epoch-1970 + TTL — ancient the moment real event times
    arrive, silently evicting every key armed in batch 0 that then idles
    for one batch (surfaced by the near-dup bucket store's cross-batch
    test; regression-pinned in tests/test_stateful.py)."""
    batch_ms = 0
    if batch_max_ts is not None and not pd.isna(batch_max_ts):
        batch_ms = int(pd.Timestamp(batch_max_ts).value // 1_000_000)
    state.setTimeoutTimestamp(
        max(state.getCurrentWatermarkMs(), batch_ms) + ttl_ms
    )


def group_fold(
    step: Step,
    initial: tuple,
    ttl_ms: int | None,
    order: tuple[str, ...] | None = ("ts", "event_id"),
) -> Fold:
    """Adapt `step` to applyInPandasWithState's `fn(key, pdfs, state)`:
    evict on timeout, fold the key group's rows (sorted by `order`, if
    given) into the prior state or `initial`, and re-arm the idle timeout
    `ttl_ms` past the group's max `ts` (never, when ttl_ms is None: the
    query must then run with GroupStateTimeout.NoTimeout)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs))
        if order:
            rows = rows.sort_values(list(order))
        new_state, out = step(key, state.get if state.exists else initial, rows)
        state.update(new_state)
        if ttl_ms is not None:
            arm_idle_timeout(state, rows["ts"].max(), ttl_ms)
        if len(out):
            yield out

    return fn


def apply_group_fold(
    frame: DataFrame,
    key: str,
    fold: Fold,
    output: T.StructType,
    state_schema: str,
    timeout: str = GroupStateTimeout.EventTimeTimeout,
) -> DataFrame:
    """frame grouped by `key` through `fold` (a group_fold) in append mode."""
    return frame.groupBy(key).applyInPandasWithState(
        fold,
        outputStructType=output,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# Per-sensor sudden-change detection
# ---------------------------------------------------------------------------

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("delta", T.DoubleType()),
        T.StructField("is_sudden_change", T.BooleanType()),
    ]
)

STATE_SCHEMA = "last_ts timestamp, last_value double"

SUDDEN_THRESHOLD = 20.0  # Learning Guide.txt:1058 §3


def _detect(threshold: float):
    def step(key, prior, rows):
        (user_id,) = key
        last_ts, last_value = prior
        out = {k: [] for k in ("event_id", "ts", "value", "delta", "is_sudden_change")}
        for _, r in rows.iterrows():
            delta = None if last_value is None else float(r["value"]) - last_value
            out["event_id"].append(int(r["event_id"]))
            out["ts"].append(r["ts"])
            out["value"].append(float(r["value"]))
            out["delta"].append(delta)
            out["is_sudden_change"].append(
                delta is not None and abs(delta) > threshold
            )
            last_ts, last_value = r["ts"], float(r["value"])
        out_df = pd.DataFrame({"user_id": [user_id] * len(out["event_id"]), **out})
        return (last_ts, last_value), out_df

    # state lives while the sensor keeps reporting; idle sensors expire
    # one watermark-delay after their last event (the reference's
    # in-process tracker expired after 1 minute too)
    return group_fold(step, (None, None), ttl_ms=60_000)


def sudden_change_stream(
    events: DataFrame,
    threshold: float = SUDDEN_THRESHOLD,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """events (already parsed) -> per-sensor stateful sudden-change flags.
    Input must carry user_id, event_id, ts (timestamp), value.

    The bounded twin (queries/analytics.py::q_sudden_change) uses lag()
    over a window; a stream must REMEMBER the previous reading per sensor,
    so the state is that (last_ts, last_value) pair.  Reference semantics:
    'sudden temp change > 20°C between consecutive readings' (Learning
    Guide.txt:1058 §3); the threshold is a parameter because the events
    fixture's value range differs (queries/analytics.py uses 10)."""
    return apply_group_fold(
        events.withWatermark("ts", watermark_delay),
        "user_id",
        _detect(threshold),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Online CUSUM changepoint detection (per-sensor, state across batches)
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("s_pos", T.DoubleType()),
        T.StructField("s_neg", T.DoubleType()),
        T.StructField("alarm", T.BooleanType()),
    ]
)

CUSUM_STATE_SCHEMA = "s_pos double, s_neg double"


def _cusum(mu0: float, slack: float, h: float):
    def step(key, prior, rows):
        (user_id,) = key
        s_pos, s_neg = prior
        out = {k: [] for k in ("event_id", "ts", "value", "s_pos", "s_neg", "alarm")}
        for _, r in rows.iterrows():
            x = float(r["value"])
            s_pos = max(0.0, s_pos + (x - mu0 - slack))
            s_neg = max(0.0, s_neg + (mu0 - x - slack))
            alarm = s_pos > h or s_neg > h
            out["event_id"].append(int(r["event_id"]))
            out["ts"].append(r["ts"])
            out["value"].append(x)
            out["s_pos"].append(s_pos)
            out["s_neg"].append(s_neg)
            out["alarm"].append(alarm)
            if alarm:  # standard CUSUM restart after signalling
                s_pos, s_neg = 0.0, 0.0
        out_df = pd.DataFrame({"user_id": [user_id] * len(out["event_id"]), **out})
        return (s_pos, s_neg), out_df

    return group_fold(step, (0.0, 0.0), ttl_ms=60_000)


def cusum_stream(
    events: DataFrame,
    mu0: float,
    slack: float = 2.0,
    h: float = 30.0,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Online CUSUM (Page 1954) per sensor as a stateful streaming
    operator: the batch twin (queries/temporal.py::q_cusum) scans the
    whole series for its max excursion; a stream instead carries the
    running one-sided sums s+ = max(0, s+ + (x - mu0 - slack)) and
    s- = max(0, s- + (mu0 - x - slack)) across micro-batches in
    GroupState, emits an alarm the moment either exceeds h, and restarts
    (the textbook control-chart protocol).  The level shift that a batch
    job would only report tomorrow raises an alert within one
    micro-batch of the drift crossing h.

    Scale: state is two doubles per sensor — bounded by key cardinality,
    watermark-evicted after idle — and each batch shuffles once by the
    same user key the rest of the topology already uses; inside a key
    group the pandas fold is O(batch rows)."""
    return apply_group_fold(
        events.withWatermark("ts", watermark_delay),
        "user_id",
        _cusum(mu0, slack, h),
        CUSUM_OUTPUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Online z-score anomaly gate (per-sensor Welford moments across batches)
# ---------------------------------------------------------------------------

ZSCORE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("is_anomaly", T.BooleanType()),
    ]
)

ZSCORE_STATE_SCHEMA = "n bigint, mean double, m2 double"

ZSCORE_THRESHOLD = 3.0
ZSCORE_MIN_OBS = 5


def _zscore(threshold: float, min_obs: int):
    def step(key, prior, rows):
        (user_id,) = key
        n, mean, m2 = prior
        out = {k: [] for k in ("event_id", "ts", "value", "n_seen", "z", "is_anomaly")}
        for _, r in rows.iterrows():
            x = float(r["value"])
            # score against the distribution BEFORE this reading — an
            # anomaly must not dilute the baseline it is judged by
            z = None
            anomaly = False
            if n >= min_obs:
                if m2 > 0.0:
                    z = (x - mean) / (m2 / (n - 1)) ** 0.5
                    anomaly = abs(z) > threshold
                else:
                    # constant baseline (stuck sensor): ANY deviation is an
                    # alarm — an unbounded spike must not slip through with
                    # a null z and then poison the moments
                    anomaly = x != mean
            out["event_id"].append(int(r["event_id"]))
            out["ts"].append(r["ts"])
            out["value"].append(x)
            out["n_seen"].append(n)
            out["z"].append(z)
            out["is_anomaly"].append(anomaly)
            # Welford update; anomalous readings are EXCLUDED so a burst
            # of outliers can't drag the baseline toward itself
            if not anomaly:
                n += 1
                delta = x - mean
                mean += delta / n
                m2 += delta * (x - mean)
        out_df = pd.DataFrame({"user_id": [user_id] * len(out["event_id"]), **out})
        return (n, mean, m2), out_df

    return group_fold(step, (0, 0.0, 0.0), ttl_ms=60_000)


def zscore_stream(
    events: DataFrame,
    threshold: float = ZSCORE_THRESHOLD,
    min_obs: int = ZSCORE_MIN_OBS,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Online z-score gate per sensor: the batch twin
    (queries/analytics.py::q_zscore_flag) scores each reading against the
    WHOLE series' mean/std; a stream can't see the future, so this
    operator carries running Welford moments (n, mean, M2) in GroupState
    and scores each reading against everything seen so far.  Readings are
    scored BEFORE they update the moments, warmup (n < min_obs) emits a
    null z, and flagged anomalies are excluded from the update so outlier
    bursts cannot shift the baseline they are judged against (the
    standard control-chart guard).

    Scale: state is (bigint, double, double) per sensor — bounded by key
    cardinality, watermark-evicted after idle; each micro-batch shuffles
    once on the same user key the rest of the topology uses, and the
    in-group fold is O(batch rows)."""
    return apply_group_fold(
        events.withWatermark("ts", watermark_delay),
        "user_id",
        _zscore(threshold, min_obs),
        ZSCORE_OUTPUT_SCHEMA,
        ZSCORE_STATE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters (Misra-Gries summaries per hash bucket)
# ---------------------------------------------------------------------------

HH_BUCKETS = 8  # parallelism of the summary state; keys hash-partition
HH_CAPACITY = 8  # counters per bucket: error <= bucket_processed / capacity

HH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("key", T.LongType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("processed", T.LongType()),
    ]
)

HH_STATE_SCHEMA = "keys array<bigint>, counts array<bigint>, processed bigint"


def misra_gries_update(
    summary: dict[int, int], keys: Iterable, capacity: int
) -> dict[int, int]:
    """Fold `keys`, in order, into a Misra-Gries summary of at most
    `capacity` counters and return it: a held key counts up, a new key
    takes a free counter, and with none free every counter drops by one
    (the eviction step; the new key is not stored).  The stream's
    heavy-hitter fold and the batch twin's per-partition summary
    (queries/stateful_twins.py::_mg_partition) both count with it."""
    for k in keys:
        k = int(k)
        if k in summary:
            summary[k] += 1
        elif len(summary) < capacity:
            summary[k] = 1
        else:
            summary = {kk: c - 1 for kk, c in summary.items() if c > 1}
    return summary


def _misra_gries(capacity: int):
    def step(key, prior, rows):
        (bucket,) = key
        keys, counts, processed = prior
        summary = misra_gries_update(
            dict(zip(list(keys), list(counts))), rows["key"], capacity
        )
        processed += len(rows)
        ks = sorted(summary)
        cs = [summary[k] for k in ks]
        out = pd.DataFrame(
            {
                "bucket": [bucket] * len(ks),
                "key": ks,
                "est_count": cs,
                "processed": [processed] * len(ks),
            }
        )
        return (ks, cs, processed), out

    return group_fold(step, ([], [], 0), ttl_ms=3_600_000)


def heavy_hitters_stream(
    events: DataFrame,
    key_col: str = "user_id",
    buckets: int = HH_BUCKETS,
    capacity: int = HH_CAPACITY,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming frequent-key detection with bounded memory: the batch twin
    (queries/behavior.py::q_heavy_hitters) counts exactly; a stream over an
    unbounded key domain cannot.  Keys hash-partition into `buckets`
    deterministic groups, and each group's GroupState carries a Misra-Gries
    summary of `capacity` counters folded across micro-batches.  Because a
    key always lands in the same bucket, bucket summaries are DISJOINT and
    the global answer is their plain union (the classic mergeable-summaries
    property), with the per-bucket deterministic guarantee
    true_count - est_count <= bucket_processed / capacity and every key
    above that bound guaranteed present — golden-tested across batch
    boundaries in tests/test_stateful.py.

    Scale: state is <= capacity (key, count) pairs per bucket — constant
    memory regardless of stream length or key cardinality; each micro-batch
    shuffles once on the bucket id, and `buckets` sets the shuffle
    parallelism of the summary stage independently of key skew (a hot key
    cannot overload a bucket beyond its row share, since the fold is
    O(rows))."""
    keyed = (
        events.withWatermark("ts", watermark_delay)
        .filter(F.col(key_col).isNotNull())
        .select(
            F.col("ts"),
            F.col("event_id"),
            F.col(key_col).cast("long").alias("key"),
            (F.pmod(F.hash(F.col(key_col)), F.lit(buckets))).alias("bucket"),
        )
    )
    return apply_group_fold(
        keyed, "bucket", _misra_gries(capacity), HH_OUTPUT_SCHEMA, HH_STATE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Streaming uniform sample (bottom-k by hash, the mergeable reservoir)
# ---------------------------------------------------------------------------

SAMPLE_BUCKETS = 4
SAMPLE_CAPACITY = 100  # per-bucket k; matches queries/summaries.py SAMPLE_K

SAMPLE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("sample_hash", T.StringType()),
        T.StructField("processed", T.LongType()),
    ]
)

SAMPLE_STATE_SCHEMA = "hashes array<string>, ids array<bigint>, processed bigint"


def _bottom_k(capacity: int):
    def step(key, prior, rows):
        (bucket,) = key
        hashes, ids, processed = prior
        # merge step of the mergeable summary: keep the k smallest tags
        # ((hash, id) order is total, so cutting once equals cutting per
        # Arrow batch)
        kept = sorted(
            [*zip(hashes, ids), *zip(rows["sample_hash"], (int(i) for i in rows["event_id"]))]
        )[:capacity]
        processed += len(rows)
        hs, es = [h for h, _ in kept], [i for _, i in kept]
        out = pd.DataFrame(
            {
                "bucket": [bucket] * len(kept),
                "event_id": es,
                "sample_hash": hs,
                "processed": [processed] * len(kept),
            }
        )
        return (hs, es, processed), out

    return group_fold(step, ([], [], 0), ttl_ms=3_600_000, order=None)


def sample_stream(
    events: DataFrame,
    buckets: int = SAMPLE_BUCKETS,
    capacity: int = SAMPLE_CAPACITY,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming uniform sample with bounded memory: the batch twin
    (queries/summaries.py::q_bottomk_sample) takes the k rows with the
    smallest MD5(event_id); a stream folds the same bottom-k summary
    across micro-batches in GroupState.  Because the hash tag is a pure
    function of the row, the sample is DETERMINISTIC and identical to the
    batch answer over the same prefix — bottom-k sets merge exactly like
    reservoir states but without RNG, so the final global sample is the
    k smallest tags across the per-bucket summaries (cross-path-tested
    against q_bottomk_sample in tests/test_stateful.py).

    The MD5 tag and bucket id are computed JVM-side (codegen) before the
    stateful fold; the pandas fold only merges sorted (hash, id) lists —
    state is <= capacity pairs per bucket, constant in stream length.

    Scale: one shuffle per micro-batch on the bucket id; `buckets` sets
    the summary stage's parallelism, and the per-bucket k keeps the
    global bottom-k derivable because buckets PARTITION the rows (every
    global top tag is necessarily inside its own bucket's top k)."""
    tagged = (
        events.withWatermark("ts", watermark_delay)
        .filter(F.col("event_id").isNotNull())
        .select(
            F.col("ts"),
            F.col("event_id").cast("long").alias("event_id"),
            F.md5(F.col("event_id").cast("string").cast("binary")).alias(
                "sample_hash"
            ),
            F.pmod(F.hash("event_id"), F.lit(buckets)).alias("bucket"),
        )
    )
    return apply_group_fold(
        tagged, "bucket", _bottom_k(capacity), SAMPLE_OUTPUT_SCHEMA, SAMPLE_STATE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Streaming quantile summary (fixed-bin histogram, the mergeable sketch)
# ---------------------------------------------------------------------------

Q_BINS = 256
Q_LO, Q_HI = 0.0, 100.0  # admission range the VALID stream is filtered to
Q_QUANTILES = (0.5, 0.9, 0.99)

QUANTILE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("p50", T.DoubleType()),
        T.StructField("p90", T.DoubleType()),
        T.StructField("p99", T.DoubleType()),
        T.StructField("err_bound", T.DoubleType()),
        T.StructField("processed", T.LongType()),
    ]
)

QUANTILE_STATE_SCHEMA = "counts array<bigint>, processed bigint"


def histogram_quantile(
    counts: list[int], q: float, lo: float, width: float
) -> float:
    """Deterministic quantile readout of a fixed-bin histogram: the value at
    continuous rank ceil(q*n), linearly interpolated inside its bin under a
    uniform-within-bin assumption.  Error vs the exact order statistic is
    <= one bin width by construction.  Shared by the stream fold and the
    cross-path test's reference implementation so both compute the SAME
    number, bit-for-bit."""
    n = sum(counts)
    rank = max(1, math.ceil(q * n))
    cum = 0
    for b, c in enumerate(counts):
        if c and cum + c >= rank:
            return lo + width * (b + (rank - cum) / c)
        cum += c
    return lo + width * len(counts)


def _hist_fold(bins: int, lo: float, hi: float, quantiles: tuple[float, ...]):
    width = (hi - lo) / bins

    def step(key, prior, rows):
        (event_type,) = key
        counts, processed = prior
        # merge step of the mergeable summary: element-wise add of the
        # micro-batch's bincount (bin index precomputed JVM-side)
        bc = np.bincount(rows["bin"].to_numpy(), minlength=bins)
        counts = [c + int(b) for c, b in zip(counts, bc)]
        processed += len(rows)
        ests = [histogram_quantile(counts, q, lo, width) for q in quantiles]
        out = pd.DataFrame(
            {
                "event_type": [event_type],
                "p50": [ests[0]],
                "p90": [ests[1]],
                "p99": [ests[2]],
                "err_bound": [width],
                "processed": [processed],
            }
        )
        return (counts, processed), out

    return group_fold(step, ([0] * bins, 0), ttl_ms=3_600_000, order=None)


def quantile_stream(
    events: DataFrame,
    bins: int = Q_BINS,
    lo: float = Q_LO,
    hi: float = Q_HI,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming per-event-type value-distribution summary with bounded
    memory: the batch twin (queries/sketches.py::q_quantile_summary)
    computes exact p50/p90/p99 with a value->count map whose state is
    O(distinct values); a stream over unbounded input cannot.  This folds a
    FIXED-BIN histogram (`bins` counters spanning [lo, hi], the range the
    validation rules admit into the VALID stream) across micro-batches in
    GroupState and reads p50/p90/p99 off the cumulative histogram with
    within-bin interpolation — deterministic, mergeable (histograms add
    element-wise), and with readout error <= one bin width, the bound
    emitted alongside every row as `err_bound` and pinned against the exact
    batch quantile in tests/test_stateful.py.

    The bin index is computed JVM-side (codegen) before the stateful fold;
    the pandas fold is one np.bincount add per micro-batch — state is
    exactly `bins` counters per event type, constant in stream length and
    value cardinality.

    Scale: one shuffle per micro-batch on event_type (bounded domain); at
    high key skew the same histogram could hash-sub-bucket like
    heavy_hitters_stream since histograms merge exactly — not needed while
    the per-key fold is O(batch rows)."""
    width = (hi - lo) / bins
    binned = (
        events.withWatermark("ts", watermark_delay)
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.col("ts"),
            F.col("event_type"),
            F.least(
                F.lit(bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast(
                        "int"
                    ),
                ),
            ).alias("bin"),
        )
    )
    return apply_group_fold(
        binned,
        "event_type",
        _hist_fold(bins, lo, hi, Q_QUANTILES),
        QUANTILE_OUTPUT_SCHEMA,
        QUANTILE_STATE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Streaming distinct count (K-minimum-values, the mergeable cardinality sketch)
# ---------------------------------------------------------------------------

KMV_K = 256  # relative error ~ 1/sqrt(k-2) ~ 6%

KMV_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("est_distinct", T.DoubleType()),
        T.StructField("n_held", T.IntegerType()),
        T.StructField("is_exact", T.BooleanType()),
        T.StructField("processed", T.LongType()),
    ]
)

KMV_STATE_SCHEMA = "hashes array<string>, processed bigint"

_MD5_SPACE = float(16**32)


def kmv_estimate(hashes: list[str], k: int) -> tuple[float, bool]:
    """Deterministic KMV readout: with fewer than k distinct hashes the set
    IS the distinct population (exact); at capacity the k-th smallest
    normalized hash h_k estimates cardinality as (k-1)/h_k.  Fixed-width
    lowercase hex sorts lexicographically in numeric order, so the state
    array needs no numeric decode until readout.  Shared by the stream
    fold and the cross-path test's reference implementation."""
    if len(hashes) < k:
        return float(len(hashes)), True
    return (k - 1) / (int(hashes[k - 1], 16) / _MD5_SPACE), False


def _kmv(k: int):
    def step(key, prior, rows):
        (event_type,) = key
        hashes, processed = prior
        # merge step of the mergeable summary: union of distinct hash
        # sets, truncated back to the k smallest
        final = sorted({*hashes, *rows["kmv_hash"]})[:k]
        processed += len(rows)
        est, exact = kmv_estimate(final, k)
        out = pd.DataFrame(
            {
                "event_type": [event_type],
                "est_distinct": [est],
                "n_held": [len(final)],
                "is_exact": [exact],
                "processed": [processed],
            }
        )
        return (final, processed), out

    return group_fold(step, ([], 0), ttl_ms=3_600_000, order=None)


def distinct_stream(
    events: DataFrame,
    key_col: str = "user_id",
    k: int = KMV_K,
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming per-event-type distinct-key count with bounded memory: the
    batch twin (queries/sketches.py::q_distinct_users) counts exactly with
    a distinct aggregation whose state is O(distinct keys); a stream over
    an unbounded key domain cannot.  This folds a K-MINIMUM-VALUES sketch
    across micro-batches in GroupState: the k smallest MD5 tags of the
    distinct keys seen, from which cardinality reads off as (k-1)/h_k.
    Below k distinct keys the readout is EXACT (is_exact=true — the sketch
    still holds every distinct tag); above, the estimator's relative error
    is ~1/sqrt(k-2).  Because the tag is a pure function of the key, the
    sketch is DETERMINISTIC — re-runs, engines, and batch/stream paths
    agree bit-for-bit (cross-path-tested against a python recompute in
    tests/test_stateful.py) — and KMV sets merge exactly (union, re-truncate),
    the same mergeable-summary property the sampler and histogram use.

    The MD5 tag is computed JVM-side (codegen) before the stateful fold;
    the pandas fold only unions sorted hash sets — state is <= k tags per
    event type, constant in stream length and key cardinality.

    Scale: one shuffle per micro-batch on event_type (bounded domain); a
    skewed type could hash-sub-bucket like heavy_hitters_stream since the
    global KMV is the truncated union of sub-bucket KMVs computed over a
    PARTITION of the keys."""
    tagged = (
        events.withWatermark("ts", watermark_delay)
        .filter(F.col(key_col).isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.col("ts"),
            F.col("event_type"),
            F.md5(F.col(key_col).cast("string").cast("binary")).alias(
                "kmv_hash"
            ),
        )
    )
    return apply_group_fold(
        tagged, "event_type", _kmv(k), KMV_OUTPUT_SCHEMA, KMV_STATE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Streaming per-source frequency cap (admission control)
# ---------------------------------------------------------------------------

CAP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("fetched_at", T.TimestampType()),
        T.StructField("cap_seq", T.LongType()),
        T.StructField("admitted", T.BooleanType()),
    ]
)

CAP_STATE_SCHEMA = "n_seen bigint"


def _cap(k: int):
    def step(key, prior, rows):
        (source,) = key
        (n_seen,) = prior
        seqs = list(range(n_seen + 1, n_seen + 1 + len(rows)))
        out = pd.DataFrame(
            {
                "source": [source] * len(rows),
                "doc_id": rows["doc_id"].astype("int64").values,
                "fetched_at": rows["fetched_at"].values,
                "cap_seq": pd.Series(seqs, dtype="int64").values,
                "admitted": [s <= k for s in seqs],
            }
        )
        return (n_seen + len(rows),), out

    return group_fold(step, (0,), ttl_ms=None, order=("fetched_at", "doc_id"))


def source_cap_stream(docs: DataFrame, k: int) -> DataFrame:
    """Streaming ADMISSION-control twin of batch q_source_cap: admit the
    first `k` documents per source, remembering the per-source count
    across micro-batches.  The semantic difference from the batch
    operator is deliberate and documented: batch capping sees the whole
    corpus and keeps the K BEST (longest) documents; an unbounded ingest
    cannot rank the future, so the streaming contract is first-K
    admission with a deterministic in-batch order ((fetched_at, doc_id)),
    the shape crawl frontiers actually enforce.  Batch re-capping on the
    landed corpus (q_source_cap) remains the quality-ranked authority.

    Scale: state is ONE bigint per source (bounded by |sources|, the
    dimension table's cardinality); each micro-batch shuffles by source
    once.  No timeout: a cap counter must not silently reset while the
    stream runs — production bounds state by keying on
    (source, capping-window) instead, e.g. date_trunc('day', fetched_at),
    which makes eviction a watermark concern again.

    Input must carry doc_id, source, fetched_at (timestamp)."""
    return apply_group_fold(
        docs.select("doc_id", "source", "fetched_at"),
        "source",
        _cap(k),
        CAP_OUTPUT_SCHEMA,
        CAP_STATE_SCHEMA,
        timeout=GroupStateTimeout.NoTimeout,
    )
