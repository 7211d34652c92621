"""Golden tests for the stateful stream operators (applyInPandasWithState):
state must carry across micro-batches per key.  Their registered batch
twins (Misra-Gries, Welford, CUSUM) are checked against an independent
pure-Python fold over the fixture."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.stateful_twins import (
    MG_CAPACITY,
    SUPPORT_K,
    _mg_partition,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import (
    parse_event_stream,
    read_event_file_stream,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
    sudden_change_stream,
)

from .test_streaming import ev, write_file

registry.load_all()


def test_state_carries_last_value_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 0: u1 baseline 10.0 then spike to 35.0 (delta +25 > 20)
    write_file(
        str(src),
        "f1.json",
        [
            ev(1, "2024-01-15 10:00:00", user_id=1, value=10.0),
            ev(2, "2024-01-15 10:00:10", user_id=1, value=35.0),
            ev(3, "2024-01-15 10:00:05", user_id=2, value=5.0),
        ],
        seq=0,
    )
    # batch 1: u1 back to 12.0 (delta -23 -> sudden) — state remembered
    # 35.0 from batch 0; u2 gentle drift (no flag)
    write_file(
        str(src),
        "f2.json",
        [
            ev(4, "2024-01-15 10:00:20", user_id=1, value=12.0),
            ev(5, "2024-01-15 10:00:15", user_id=2, value=8.0),
        ],
        seq=1,
    )
    out = sudden_change_stream(
        parse_event_stream(read_event_file_stream(spark, str(src)))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sudden_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.event_id: (r.delta, r.is_sudden_change)
        for r in spark.sql("SELECT * FROM sudden_out").collect()
    }
    assert rows[1] == (None, False)  # first reading: nothing to compare
    assert rows[2] == (25.0, True)  # in-batch spike
    assert rows[3] == (None, False)
    assert rows[4] == (-23.0, True)  # cross-batch: state remembered 35.0
    assert rows[5] == (3.0, False)


def test_cusum_stream_detects_level_shift_across_batches(spark, tmp_path):
    """Online CUSUM accumulates drift ACROSS micro-batches: batch 0 sits
    at the target mean (no alarm, but s+ partially charged by the last
    two readings), batch 1 continues the elevated level until s+ crosses
    h mid-batch — the alarm index proves state survived the batch
    boundary — then the post-alarm restart zeroes the sums."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        cusum_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    # mu0=50, slack=2, h=30: on-target readings contribute nothing;
    # each 62.0 reading adds 10 to s+.
    write_file(
        str(src),
        "f1.json",
        [
            ev(1, "2024-01-15 10:00:00", user_id=1, value=50.0),
            ev(2, "2024-01-15 10:00:10", user_id=1, value=51.0),
            ev(3, "2024-01-15 10:00:20", user_id=1, value=62.0),
            ev(4, "2024-01-15 10:00:30", user_id=1, value=62.0),
        ],
        seq=0,
    )
    write_file(
        str(src),
        "f2.json",
        [
            ev(5, "2024-01-15 10:00:40", user_id=1, value=62.0),
            ev(6, "2024-01-15 10:00:50", user_id=1, value=62.0),
            ev(7, "2024-01-15 10:01:00", user_id=1, value=50.0),
        ],
        seq=1,
    )
    from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import (
        parse_event_stream,
        read_event_file_stream,
    )

    out = cusum_stream(
        parse_event_stream(read_event_file_stream(spark, str(src))),
        mu0=50.0,
        slack=2.0,
        h=30.0,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.event_id: r
        for r in spark.sql("SELECT * FROM cusum_out").collect()
    }
    assert len(rows) == 7
    # batch 0: 0, 0, 10, 20 — no alarm yet
    assert rows[1].s_pos == 0.0 and not rows[1].alarm
    assert rows[3].s_pos == 10.0 and not rows[3].alarm
    assert rows[4].s_pos == 20.0 and not rows[4].alarm
    # batch 1 row 5: 20 (carried!) + 10 = 30, still <= h; row 6 crosses
    assert rows[5].s_pos == 30.0 and not rows[5].alarm
    assert rows[6].s_pos == 40.0 and rows[6].alarm
    # post-alarm restart: sums zeroed before event 7 (on-target -> 0)
    assert rows[7].s_pos == 0.0 and not rows[7].alarm


def test_zscore_stream_welford_state_and_anomaly_exclusion(spark, tmp_path):
    """Online z-gate: warmup emits null z, moments carry ACROSS batches,
    each reading is scored against the distribution BEFORE it, and a
    flagged anomaly is excluded from the baseline (the next on-profile
    reading must be judged by the uncontaminated moments)."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        zscore_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = [10.0, 12.0, 10.0, 12.0, 10.0, 12.0]
    write_file(
        str(src),
        "f1.json",
        [
            ev(i + 1, f"2024-01-15 10:00:{i:02d}", user_id=1, value=v)
            for i, v in enumerate(base)
        ],
        seq=0,
    )
    # batch 1: spike then return — state must remember the 6 baseline rows
    write_file(
        str(src),
        "f2.json",
        [
            ev(7, "2024-01-15 10:00:06", user_id=1, value=90.0),
            ev(8, "2024-01-15 10:00:07", user_id=1, value=11.0),
        ],
        seq=1,
    )
    out = zscore_stream(
        parse_event_stream(read_event_file_stream(spark, str(src)))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("zscore_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_z"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.event_id: r for r in spark.sql("SELECT * FROM zscore_out").collect()
    }
    assert len(rows) == 8
    # offline Welford fold over the baseline for the expected moments
    n, mean, m2 = 0, 0.0, 0.0
    stats = []
    for x in base:
        stats.append((n, mean, m2))
        n += 1
        d = x - mean
        mean += d / n
        m2 += d * (x - mean)
    # warmup: first five readings have n_seen < 5 -> null z, never flagged
    for eid in range(1, 6):
        assert rows[eid].z is None and not rows[eid].is_anomaly
        assert rows[eid].n_seen == eid - 1
    # reading 6 is the first scored one (n_seen=5), against rows 1-5
    n5, mean5, m25 = stats[5]
    exp_z6 = (12.0 - mean5) / (m25 / (n5 - 1)) ** 0.5
    assert rows[6].n_seen == 5
    assert abs(rows[6].z - exp_z6) < 1e-9 and not rows[6].is_anomaly
    # cross-batch: reading 7 scored against ALL SIX baseline rows
    exp_z7 = (90.0 - mean) / (m2 / (n - 1)) ** 0.5
    assert rows[7].n_seen == 6
    assert abs(rows[7].z - exp_z7) < 1e-9 and rows[7].is_anomaly
    # anomaly excluded: reading 8 judged by the same uncontaminated moments
    exp_z8 = (11.0 - mean) / (m2 / (n - 1)) ** 0.5
    assert rows[8].n_seen == 6  # 90.0 never entered the baseline
    assert abs(rows[8].z - exp_z8) < 1e-9 and not rows[8].is_anomaly


def test_heavy_hitters_stream_misra_gries_guarantee(spark, tmp_path):
    """Per-bucket Misra-Gries folded ACROSS micro-batches must honor the
    deterministic sketch bound: for every key,
    true_count - est <= bucket_processed / capacity, every key above the
    bound is PRESENT in the final summary, and bucket summaries are
    disjoint (a key never appears in two buckets)."""
    from collections import Counter

    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        HH_CAPACITY,
        heavy_hitters_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    # skewed stream: key 1 floods, keys 2-9 trickle; split across 2 batches
    batch0 = [1] * 20 + [2, 3, 4, 5, 6, 7, 8, 9] + [1] * 10
    batch1 = [1] * 25 + [2, 2, 3, 3] + [10, 11, 12] + [1] * 5
    eid = 0
    for seq, keys in enumerate((batch0, batch1)):
        rows = []
        for k in keys:
            rows.append(
                ev(eid, f"2024-01-15 10:{seq:02d}:{eid % 60:02d}", user_id=k, value=1.0)
            )
            eid += 1
        write_file(str(src), f"f{seq}.json", rows, seq=seq)
    out = heavy_hitters_stream(
        parse_event_stream(read_event_file_stream(spark, str(src)))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("hh_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    all_rows = spark.sql("SELECT * FROM hh_out").collect()
    # keep only each bucket's FINAL summary (largest processed)
    final_processed = {}
    for r in all_rows:
        final_processed[r.bucket] = max(
            final_processed.get(r.bucket, 0), r.processed
        )
    final = [
        r for r in all_rows if r.processed == final_processed[r.bucket]
    ]
    truth = Counter(batch0 + batch1)
    # bucket assignment must be a function of the key (disjoint summaries)
    bucket_of = {}
    for r in final:
        assert bucket_of.setdefault(r.key, r.bucket) == r.bucket
    est = {r.key: r.est_count for r in final}
    for k, true_n in truth.items():
        if k in bucket_of:
            bound = final_processed[bucket_of[k]] / HH_CAPACITY
        else:
            bound = max(final_processed.values()) / HH_CAPACITY
        # MG never overestimates, and underestimates by at most the bound
        if k in est:
            assert est[k] <= true_n
            assert true_n - est[k] <= bound
        else:
            assert true_n <= bound, (k, true_n, bound)
    # the flood key must be detected with a dominant count
    assert est.get(1, 0) >= truth[1] - max(final_processed.values()) / HH_CAPACITY
    assert est.get(1, 0) == max(est.values())


class _FakeState:
    """Minimal GroupState stand-in for driving the state-fold functions
    directly (timeout paths can't be reached deterministically through a
    real stream without hours of watermark choreography)."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self.updated = v

    def remove(self):
        self.removed = True

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts

    def getCurrentWatermarkMs(self):
        return 0


def test_timed_out_state_is_evicted_not_rearmed():
    """On an event-time timeout every stateful operator must REMOVE its
    state and emit nothing — re-arming would keep dead keys alive (and
    Misra-Gries would re-emit duplicate summaries) forever."""
    import pandas as pd

    from real_time_iot_data_engineering_pipeline_spark.streaming import (
        stateful as st,
    )

    folds = [
        (st._detect(20.0), (pd.Timestamp("2024-01-15"), 1.0)),
        (st._cusum(50.0, 2.0, 30.0), (0.0, 5.0)),
        (st._zscore(3.0, 5), (6, 10.0, 1.0)),
        (st._misra_gries(8), ([1, 2], [3, 4], 7)),
    ]
    for fn, old in folds:
        state = _FakeState(value=old, timed_out=True)
        out = list(fn((1,), iter([]), state))
        assert out == [], fn
        assert state.removed
        assert state.updated is None  # never re-armed


def test_zscore_constant_baseline_flags_any_deviation():
    """A zero-variance (stuck-sensor) baseline must alarm on ANY deviating
    reading instead of passing it with a null z and folding the spike
    into the moments."""
    import pandas as pd

    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        _zscore,
    )

    fn = _zscore(3.0, 5)
    batch = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-15 10:00:00", "2024-01-15 10:00:01"]),
            "value": [500.0, 10.0],
        }
    )
    # state: six identical 10.0 readings seen -> n=6, mean=10, m2=0
    state = _FakeState(value=(6, 10.0, 0.0))
    (out,) = list(fn((1,), iter([batch]), state))
    rows = {int(r["event_id"]): r for _, r in out.iterrows()}
    assert rows[1]["is_anomaly"] and rows[1]["z"] is None
    assert not rows[2]["is_anomaly"]  # back on the constant baseline
    n, mean, m2 = state.updated
    assert (n, mean, m2) == (7, 10.0, 0.0)  # spike never entered the moments


def test_sample_stream_equals_batch_bottom_k(spark, tmp_path):
    """Cross-path guarantee: the streaming bottom-k sample folded across
    micro-batches must equal the BATCH bottom-k (python MD5 recompute, the
    same rule as queries/summaries.py::q_bottomk_sample) over the full
    drained stream — the determinism that makes a hash-tag sample superior
    to an RNG reservoir at 100 TB (re-runs, engines, and batch/stream
    paths all agree)."""
    import hashlib

    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        SAMPLE_CAPACITY,
        sample_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    eid = 0
    all_ids = []
    for seq in range(3):
        rows = []
        for _ in range(150):
            rows.append(
                ev(eid, f"2024-01-15 10:{seq:02d}:{eid % 60:02d}", value=1.0)
            )
            all_ids.append(eid)
            eid += 1
        write_file(str(src), f"s{seq}.json", rows, seq=seq)
    out = sample_stream(
        parse_event_stream(read_event_file_stream(spark, str(src)))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sample_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sample"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sample_out").collect()
    # final summary per bucket = the emission with the largest processed
    final_processed = {}
    for r in rows:
        final_processed[r.bucket] = max(
            final_processed.get(r.bucket, 0), r.processed
        )
    final = [
        (r.sample_hash, r.event_id)
        for r in rows
        if r.processed == final_processed[r.bucket]
    ]
    got = sorted(set(final))[:SAMPLE_CAPACITY]
    expect = sorted(
        (hashlib.md5(str(i).encode()).hexdigest(), i) for i in all_ids
    )[:SAMPLE_CAPACITY]
    assert got == expect
    # per-bucket state is bounded by capacity
    from collections import Counter

    per_bucket = Counter(
        r.bucket for r in rows if r.processed == final_processed[r.bucket]
    )
    assert all(c <= SAMPLE_CAPACITY for c in per_bucket.values())
    # every stream row was processed exactly once across the buckets
    assert sum(final_processed.values()) == len(all_ids)


def test_histogram_quantile_readout_pure():
    """The shared readout rule on a known histogram: 10 counts of 1 across
    [0,10) unit bins — rank ceil(q*10) interpolates to the exact order
    statistic's bin edge."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        histogram_quantile,
    )

    counts = [1] * 10
    assert histogram_quantile(counts, 0.5, 0.0, 1.0) == 5.0  # rank 5, bin 4
    assert histogram_quantile(counts, 0.99, 0.0, 1.0) == 10.0  # rank 10
    assert histogram_quantile([0, 4, 0], 0.5, 0.0, 1.0) == 1.5  # mid-bin


def test_quantile_stream_matches_reference_and_bounds_error(spark, tmp_path):
    """Cross-path guarantee: the streaming histogram quantiles folded across
    micro-batches must (a) EQUAL a python recompute of the same fixed-bin
    rule over the full drained stream — determinism — and (b) sit within
    one bin width of the exact order statistic — the emitted err_bound."""
    import numpy as np

    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        Q_BINS,
        Q_HI,
        Q_LO,
        Q_QUANTILES,
        histogram_quantile,
        quantile_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    eid = 0
    values = []
    for seq in range(3):
        rows = []
        for j in range(120):
            v = float((eid * 37) % 97) + 0.25  # deterministic spread in [0,97)
            rows.append(ev(eid, f"2024-01-15 10:{seq:02d}:{j % 60:02d}", value=v))
            values.append(v)
            eid += 1
        write_file(str(src), f"s{seq}.json", rows, seq=seq)
    out = quantile_stream(
        parse_event_stream(read_event_file_stream(spark, str(src)))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("quantile_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_quant"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM quantile_out").collect()
    assert rows, "stream emitted nothing"
    final = max(rows, key=lambda r: r.processed)  # the full-stream summary
    assert final.processed == len(values)
    width = (Q_HI - Q_LO) / Q_BINS
    assert final.err_bound == width
    # (a) bit-for-bit vs the python reference of the same histogram rule
    counts = [0] * Q_BINS
    for v in values:
        b = min(Q_BINS - 1, max(0, int((v - Q_LO) // width)))
        counts[b] += 1
    for col, qq in zip(("p50", "p90", "p99"), Q_QUANTILES):
        assert getattr(final, col) == histogram_quantile(counts, qq, Q_LO, width)
        # (b) within one bin width of the exact order statistic
        exact = float(
            np.sort(np.array(values))[max(0, math.ceil(qq * len(values)) - 1)]
        )
        assert abs(getattr(final, col) - exact) <= width


def test_kmv_estimate_readout_pure():
    """The shared KMV readout rule: below k the set is the population
    (exact); at k the (k-1)/h_k estimator on a known hash set."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        _MD5_SPACE,
        kmv_estimate,
    )

    assert kmv_estimate(["aa", "bb"], 4) == (2.0, True)
    h = [format(i, "032x") for i in (10, 20, 30, 40)]  # tiny known tags
    est, exact = kmv_estimate(h, 4)
    assert not exact
    assert est == 3 / (40 / _MD5_SPACE)


def test_distinct_stream_matches_python_kmv(spark, tmp_path):
    """Cross-path guarantee: the streaming KMV folded across micro-batches
    must EQUAL a python recompute of the same rule (MD5 tags, k smallest,
    (k-1)/h_k) over the full drained stream — determinism — and estimate
    the true cardinality within the sketch's error envelope."""
    import hashlib

    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        KMV_K,
        distinct_stream,
        kmv_estimate,
    )

    src = tmp_path / "src"
    src.mkdir()
    eid = 0
    users = set()
    for seq in range(3):
        rows = []
        for j in range(150):
            uid = 1000 + (eid * 7) % 400  # 400 distinct users > KMV_K=256
            rows.append(
                ev(eid, f"2024-01-15 10:{seq:02d}:{j % 60:02d}", user_id=uid)
            )
            users.add(uid)
            eid += 1
        write_file(str(src), f"s{seq}.json", rows, seq=seq)
    out = distinct_stream(
        parse_event_stream(read_event_file_stream(spark, str(src)))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("kmv_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM kmv_out").collect()
    assert rows, "stream emitted nothing"
    final = max(rows, key=lambda r: r.processed)
    assert final.processed == 450
    assert final.n_held == KMV_K and not final.is_exact
    # (a) bit-for-bit vs the python reference of the same KMV rule
    tags = sorted(hashlib.md5(str(u).encode()).hexdigest() for u in users)
    expect, exact = kmv_estimate(tags[:KMV_K], KMV_K)
    assert final.est_distinct == expect and not exact
    # (b) inside the sketch's error envelope around the true 400
    assert abs(final.est_distinct - len(users)) / len(users) < 0.25


def test_batch0_state_survives_an_idle_batch(spark, tmp_path):
    """Cold-start eviction regression (round 8): in the FIRST micro-batch
    the watermark is still 0, so a deadline armed as watermark + TTL is
    epoch-1970 + TTL — ancient the moment real event times arrive — and a
    key armed in batch 0 that then idles ONE batch was silently evicted
    (its next reading saw no baseline).  arm_idle_timeout anchors the
    deadline to the batch's own max event time instead.  Here u1 reports
    in batch 0, idles through batch 1, and returns in batch 2: the spike
    must still be judged against the remembered batch-0 value."""
    src = tmp_path / "src"
    src.mkdir()
    write_file(
        str(src),
        "f1.json",
        [ev(1, "2024-01-15 10:00:00", user_id=1, value=10.0)],
        seq=0,
    )
    write_file(
        str(src),
        "f2.json",
        [ev(2, "2024-01-15 10:00:10", user_id=2, value=5.0)],
        seq=1,
    )
    write_file(
        str(src),
        "f3.json",
        [ev(3, "2024-01-15 10:00:20", user_id=1, value=35.0)],
        seq=2,
    )
    out = sudden_change_stream(
        parse_event_stream(read_event_file_stream(spark, str(src)))
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sudden_idle")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.event_id: (r.delta, r.is_sudden_change)
        for r in spark.sql("SELECT * FROM sudden_idle").collect()
    }
    assert rows[1] == (None, False)
    # before the fix this read (None, False): u1's batch-0 state was gone
    assert rows[3] == (25.0, True)


def test_source_cap_stream_counts_across_batches(spark, tmp_path):
    """The admission counter must persist across micro-batches per source:
    with K=3, a source delivering 2 docs in batch 0 and 3 in batch 1
    admits exactly one of the later three; an under-cap source admits
    everything; in-batch admission order is (fetched_at, doc_id)."""
    import json as _json
    import os as _os

    from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
        read_doc_file_stream,
    )
    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        source_cap_stream,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()

    def doc(i, t, source):
        return dict(doc_id=i, text=f"doc {i} body words here", source=source,
                    fetched_at=t)

    def write(name, rows, seq):
        p = _os.path.join(str(src), name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (1_700_000_000 + seq * 60,) * 2)

    write("f1.json", [
        doc(1, "2024-01-19 10:00:00", "crawl"),
        doc(2, "2024-01-19 10:00:01", "crawl"),
        doc(3, "2024-01-19 10:00:02", "wiki"),
    ], seq=0)
    write("f2.json", [
        # deliberately out of doc_id order: in-batch seq follows fetched_at
        doc(6, "2024-01-19 10:01:00", "crawl"),
        doc(4, "2024-01-19 10:01:01", "crawl"),
        doc(5, "2024-01-19 10:01:02", "crawl"),
        doc(7, "2024-01-19 10:01:03", "wiki"),
    ], seq=1)

    raw = read_doc_file_stream(spark, str(src)).withColumn(
        "fetched_at", F.to_timestamp("fetched_at")
    )
    out = source_cap_stream(raw, k=3)
    q = (
        out.writeStream.format("memory")
        .queryName("cap_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r.doc_id: (r.cap_seq, r.admitted)
        for r in spark.sql("SELECT * FROM cap_out").collect()
    }
    assert rows[1] == (1, True)
    assert rows[2] == (2, True)
    assert rows[6] == (3, True)   # earliest fetched_at in batch 1 takes slot 3
    assert rows[4] == (4, False)  # over the cap despite smaller doc_id
    assert rows[5] == (5, False)
    assert rows[3] == (1, True)   # wiki: own counter
    assert rows[7] == (2, True)


def test_source_cap_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume golden: the per-source admission
    counter must survive a full query shutdown — a SECOND query started
    on the SAME checkpoint sees only the new file (offsets restored) and
    continues cap_seq from the recovered state, so a counter that
    silently reset to zero would wrongly re-admit over-cap documents."""
    import json as _json
    import os as _os

    from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
        read_doc_file_stream,
    )
    from real_time_iot_data_engineering_pipeline_spark.streaming.stateful import (
        source_cap_stream,
    )
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()

    def doc(i, t, source):
        return dict(doc_id=i, text=f"doc {i} body words here", source=source,
                    fetched_at=t)

    def write(name, rows, seq):
        p = _os.path.join(str(src), name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (1_700_000_000 + seq * 60,) * 2)

    out = tmp_path / "out"

    def run(qname):
        # a FILE sink: the memory sink refuses checkpoint recovery, and
        # restartability is exactly what this golden proves
        raw = read_doc_file_stream(spark, str(src)).withColumn(
            "fetched_at", F.to_timestamp("fetched_at")
        )
        q = (
            source_cap_stream(raw, k=3)
            .writeStream.format("parquet")
            .queryName(qname)
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.doc_id: (r.cap_seq, r.admitted)
            for r in spark.read.parquet(str(out)).collect()
        }

    write("f1.json", [
        doc(1, "2024-01-19 10:00:00", "crawl"),
        doc(2, "2024-01-19 10:00:01", "crawl"),
    ], seq=0)
    first = run("cap_restart_a")
    assert first == {1: (1, True), 2: (2, True)}

    # full shutdown happened (availableNow drained and terminated); the
    # resumed query must pick up n_seen=2 from the state store, not 0.
    write("f2.json", [
        doc(3, "2024-01-19 10:01:00", "crawl"),
        doc(4, "2024-01-19 10:01:01", "crawl"),
        doc(5, "2024-01-19 10:01:02", "crawl"),
    ], seq=1)
    second = run("cap_restart_b")
    assert {k: second[k] for k in (3, 4, 5)} == {
        3: (3, True),
        4: (4, False),
        5: (5, False),
    }, second


# Batch twins of the stateful stream operators, each checked against an
# independent pure-Python fold over the fixture.


def event_columns(sf_dir, columns):
    import pyarrow.parquet as pq

    return pq.read_table(f"{sf_dir}/events.parquet", columns=columns).to_pydict()


class TestMisraGries:
    def test_output_equals_exact_heavy_hitters(self, spark, sf_dir):
        ev = event_columns(sf_dir, ["user_id"])
        counts = Counter(u for u in ev["user_id"] if u is not None)
        n = sum(counts.values())
        expect = {u: c for u, c in counts.items() if c > n / SUPPORT_K}
        rows = registry.QUERIES["q_misra_gries"](spark, sf_dir).collect()
        assert {r["user_id"]: r["n"] for r in rows} == expect

    def test_partition_summary_is_superset_under_any_split(self):
        """MG with C=2K counters per partition must surface every global
        1/K-heavy key no matter how rows are split — exercised on a skewed
        synthetic stream under three adversarial partitionings."""
        import pandas as pd

        keys = [1] * 500 + [2] * 300 + list(range(100, 100 + 2000))
        n = len(keys)
        heavy = {
            k for k, c in Counter(keys).items() if c > n / SUPPORT_K
        }
        assert heavy == {1, 2}
        splits = {
            "heavy_first": [keys],
            "interleaved": [keys[i::4] for i in range(4)],
            "heavy_last": [sorted(keys, reverse=True)[i::3] for i in range(3)],
        }
        for name, parts in splits.items():
            cands: set[int] = set()
            for part in parts:
                out = list(_mg_partition(iter([pd.DataFrame({"key": part})])))
                assert len(out[0]) <= MG_CAPACITY
                cands |= set(out[0]["key"])
            assert heavy <= cands, name


class TestWelfordStats:
    def test_matches_python_welford_fold(self, spark, sf_dir):
        """Recompute the (n, mean, M2) state with the LITERAL online Welford
        recursion from streaming/stateful.py (not numpy) — certifying that
        the declarative var_samp twin equals the stream's fold math."""
        ev = event_columns(sf_dir, ["user_id", "value"])
        state: dict[int, tuple[int, float, float]] = {}
        for u, x in zip(ev["user_id"], ev["value"]):
            if u is None or x is None:
                continue
            n, mean, m2 = state.get(u, (0, 0.0, 0.0))
            n += 1
            delta = x - mean
            mean += delta / n
            m2 += delta * (x - mean)
            state[u] = (n, mean, m2)
        rows = registry.QUERIES["q_welford_stats"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            n, mean, m2 = state[r["user_id"]]
            assert r["n"] == n
            assert r["mean"] == pytest.approx(mean, abs=1e-4)
            assert r["m2"] == pytest.approx(m2, rel=1e-6)
            assert r["variance"] == pytest.approx(m2 / (n - 1), rel=1e-6)


class TestCusumAlarm:
    def test_matches_streaming_fold_up_to_first_alarm(self, spark, sf_dir):
        """Run the EXACT cusum_stream recursion (max(0, ...) fold with
        restart, streaming/stateful.py:121-151) in pure Python and check
        the batch twin agrees on the first alarm timestamp and (for
        never-alarmed sensors, where restart never fires) on the max
        excursions too."""
        from real_time_iot_data_engineering_pipeline_spark.queries.stateful_twins import (
            CUSUM_H,
            CUSUM_SLACK,
        )

        slack, h = float(CUSUM_SLACK), float(CUSUM_H)
        ev = event_columns(sf_dir, ["user_id", "event_id", "ts", "value"])
        series = defaultdict(list)
        vals = []
        for u, e, t, x in zip(
            ev["user_id"], ev["event_id"], ev["ts"], ev["value"]
        ):
            if u is None or t is None or x is None:
                continue
            series[u].append((t, e, x))
            vals.append(x)
        mu0 = math.floor(
            sum(vals) / len(vals) * 1e4 * (1 + 1e-12) + 0.5
        ) / 1e4  # fround(avg, 4), as the query pins mu0
        expect = {}
        for u, hist in series.items():
            hist.sort()
            s_pos = s_neg = 0.0
            mx_p = mx_n = 0.0
            first_alarm = None
            for t, _, x in hist:
                s_pos = max(0.0, s_pos + (x - mu0 - slack))
                s_neg = max(0.0, s_neg + (mu0 - x - slack))
                mx_p, mx_n = max(mx_p, s_pos), max(mx_n, s_neg)
                if first_alarm is None and (s_pos > h or s_neg > h):
                    first_alarm = t
                    # the batch twin has no restart; stop comparing
                    # excursions past this point
                    break
            expect[u] = (first_alarm, mx_p, mx_n)
        rows = registry.QUERIES["q_cusum_alarm"](spark, sf_dir).collect()
        alarmed = {r["user_id"] for r in rows if r["alarmed"]}
        assert alarmed and alarmed != {r["user_id"] for r in rows}, (
            "fixture must exercise both verdicts"
        )
        for r in rows:
            first, mx_p, mx_n = expect[r["user_id"]]
            if first is not None:
                assert r["alarmed"] and r["first_alarm_ts"] == first
            else:
                assert not r["alarmed"] and r["first_alarm_ts"] is None
                assert r["max_s_pos"] == pytest.approx(mx_p, abs=2e-4)
                assert r["max_s_neg"] == pytest.approx(mx_n, abs=2e-4)
