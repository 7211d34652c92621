"""End-to-end test of the full streaming topology: validate -> route ->
dedup -> window agg -> keyed upsert, plus the DLQ branch — the reference's
whole four-process dataflow (SURVEY.md §3.3) in one engine invocation."""

from __future__ import annotations

import os

from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink
from real_time_iot_data_engineering_pipeline_spark.streaming.launch import drain, start_query
from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import (
    AGG_KEY_COLS,
    parse_event_stream,
    read_event_file_stream,
    windowed_aggregate,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.topology import (
    run_topology,
)

from .test_streaming import ev, sink_rows, write_file


def test_full_topology_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(1, "2024-01-19 10:00:00", value=2.0), **valid_kwargs),
            dict(ev(1, "2024-01-19 10:00:00", value=2.0), **valid_kwargs),  # dup
            dict(ev(2, "2024-01-19 10:01:00", value=4.0), **valid_kwargs),
            dict(ev(3, "2024-01-19 10:00:30", value=500.0), **valid_kwargs),  # range
        ],
        seq=0,
    )
    write_file(
        str(src),
        "f2.json",
        [
            dict(ev(4, "2024-01-19 10:02:00", value=6.0), **valid_kwargs),
            dict(ev(2, "2024-01-19 10:01:00", value=4.0), **valid_kwargs),  # dup
        ],
        seq=1,
    )

    result = run_topology(spark, str(src), str(tmp_path / "out"))

    aggs = {
        (r.user_id, str(r.window_start)): (r.sum_value, r["count"])
        for r in result.aggregates.read().collect()
    }
    # events 1, 2, 4 survive validation+dedup; dup replays and the
    # out-of-range 500.0 contribute nothing
    assert aggs == {(1, "2024-01-19 10:00:00"): (12.0, 3)}

    dlq = result.read_dlq().collect()
    assert [r.event_id for r in dlq] == [3]
    assert dlq[0].validation_failures == "out_of_range:value"
    assert dlq[0].data_quality_flag == "invalid"


def test_topology_sliding_family(spark, tmp_path):
    """Same topology with the sliding (10 min / 5 min) family: each
    surviving event lands in TWO windows, and the dedup/DLQ behavior is
    unchanged."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(1, "2024-01-19 10:02:00", value=2.0), **valid_kwargs),
            dict(ev(1, "2024-01-19 10:02:00", value=2.0), **valid_kwargs),  # dup
            dict(ev(2, "2024-01-19 10:07:00", value=4.0), **valid_kwargs),
        ],
        seq=0,
    )

    result = run_topology(
        spark, str(src), str(tmp_path / "out"), window_family="sliding"
    )
    aggs = {
        str(r.window_start): (r.sum_value, r["count"])
        for r in result.aggregates.read().collect()
    }
    # event@10:02 -> [09:55,10:05)+[10:00,10:10); event@10:07 -> [10:00,10:10)+[10:05,10:15)
    assert aggs == {
        "2024-01-19 09:55:00": (2.0, 1),
        "2024-01-19 10:00:00": (6.0, 2),
        "2024-01-19 10:05:00": (4.0, 1),
    }


def test_topology_session_family(spark, tmp_path):
    """Session family: append mode, sessions emit only when finalized by
    the watermark.  Two close events merge into one session; the late
    straggler session stays open and never reaches the sink."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(1, "2024-01-19 10:00:00", value=1.0), **valid_kwargs),
            dict(ev(2, "2024-01-19 10:03:00", value=2.0), **valid_kwargs),  # merges
        ],
        seq=0,
    )
    write_file(
        str(src),
        "f2.json",
        # watermark -> 10:14 > session-1 end (10:08): finalizes session 1
        [dict(ev(3, "2024-01-19 10:15:00", value=4.0), **valid_kwargs)],
        seq=1,
    )

    result = run_topology(
        spark, str(src), str(tmp_path / "out"), window_family="session"
    )
    aggs = {
        (str(r.window_start), str(r.window_end)): (r.sum_value, r["count"])
        for r in result.aggregates.read().collect()
    }
    assert aggs == {("2024-01-19 10:00:00", "2024-01-19 10:08:00"): (3.0, 2)}


def test_topology_quality_monitor_alerts_per_batch(spark, tmp_path):
    """The monitoring branch (Learning Guide §5-6) evaluates the alert
    thresholds live: a batch with >10% DLQ share trips alert_dlq, a clean
    fresh batch stays quiet.  Clock pinned for determinism."""
    import datetime as dt

    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    # batch 0: 2 of 4 rows invalid (out-of-range) -> 50% DLQ share
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(1, "2024-01-19 10:00:00", value=2.0), **valid_kwargs),
            dict(ev(2, "2024-01-19 10:00:10", value=4.0), **valid_kwargs),
            dict(ev(3, "2024-01-19 10:00:20", value=500.0), **valid_kwargs),
            dict(ev(4, "2024-01-19 10:00:30", value=-7.0), **valid_kwargs),
        ],
        seq=0,
    )
    # batch 1: all valid, fresh relative to the pinned clock
    write_file(
        str(src),
        "f2.json",
        [
            dict(ev(5, "2024-01-19 10:01:00", value=6.0), **valid_kwargs),
            dict(ev(6, "2024-01-19 10:02:00", value=8.0), **valid_kwargs),
        ],
        seq=1,
    )

    result = run_topology(
        spark,
        str(src),
        str(tmp_path / "out"),
        with_monitor=True,
        monitor_now=dt.datetime(2024, 1, 19, 10, 3, 0),
    )
    rows = {r.epoch: r for r in result.monitor.read().collect()}
    assert len(rows) == 2
    noisy = rows[0]
    assert noisy.n_total == 4 and noisy.dlq_share == 0.5
    assert noisy.alert_dlq and noisy.alert_quality and noisy.any_alert
    assert not noisy.alert_freshness  # 10:03 - 10:00:30 < 5 min
    quiet = rows[1]
    assert quiet.n_total == 2 and quiet.dlq_share == 0.0
    assert not quiet.any_alert


def test_topology_attribution_branch(spark, tmp_path):
    """with_attribution=True adds the stream-stream interval join as one
    more query over the same source: validated views join validated
    clicks within the 10-minute window; invalid events never reach the
    join; the agg/DLQ branches are unaffected."""
    src = tmp_path / "src"
    src.mkdir()
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(1, "2024-01-19 10:00:00", user_id=1, value=2.0),
                 props='{"k": 1}', event_type="view"),
            dict(ev(2, "2024-01-19 10:05:00", user_id=1, value=3.0),
                 props='{"k": 1}', event_type="click"),
            # out-of-range click would match the view but must be DLQ'd
            # before the join sees it
            dict(ev(3, "2024-01-19 10:06:00", user_id=1, value=500.0),
                 props='{"k": 1}', event_type="click"),
            # different user: no pair
            dict(ev(4, "2024-01-19 10:01:00", user_id=2, value=5.0),
                 props='{"k": 1}', event_type="click"),
        ],
        seq=0,
    )

    result = run_topology(
        spark, str(src), str(tmp_path / "out"), with_attribution=True
    )

    pairs = {
        (r.view_id, r.click_id): r for r in result.read("attribution").collect()
    }
    assert set(pairs) == {(1, 2)}, f"unexpected attribution pairs: {set(pairs)}"
    assert pairs[(1, 2)].user_id == 1 and pairs[(1, 2)].click_value == 3.0

    # the other branches still behave: 3 valid events aggregated, 1 DLQ row
    assert [r.event_id for r in result.read_dlq().collect()] == [3]
    agg_total = sum(r["count"] for r in result.aggregates.read().collect())
    assert agg_total == 3


def test_topology_inline_compaction(spark, tmp_path):
    """compact_every wires the sink's small-file maintenance into the live
    stream: after the run, the aggregate table holds at most one parquet
    file (unpartitioned sink -> whole-table compaction) and the data is
    unchanged by it."""
    import os

    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    write_file(
        str(src), "f1.json",
        [dict(ev(1, "2024-01-19 10:00:00", value=2.0), **valid_kwargs)],
        seq=0,
    )
    write_file(
        str(src), "f2.json",
        [dict(ev(2, "2024-01-19 10:07:00", value=4.0), **valid_kwargs)],
        seq=1,
    )
    res = run_topology(
        spark, str(src), str(tmp_path / "out"), compact_every=1
    )
    current = res.aggregates._current()
    n_files = sum(1 for f in os.listdir(current) if f.endswith(".parquet"))
    assert n_files == 1
    rows = res.aggregates.read().collect()
    assert {r["window_start"].minute for r in rows} == {0, 5}


def test_topology_quarantines_malformed_json_with_payload(spark, tmp_path):
    """A non-JSON line must land in the DLQ with a leading malformed:json
    reason and its raw payload — never silently vanish, never reach the
    aggregate."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    write_file(
        str(src), "f1.json",
        [dict(ev(1, "2024-01-19 10:00:00", value=2.0), **valid_kwargs)],
        seq=0,
    )
    path = src / "f2.json"
    with open(path, "w") as f:
        f.write("%%% totally not json %%%\n")
    import os as _os

    st = _os.stat(src / "f1.json")
    _os.utime(path, (st.st_mtime + 10, st.st_mtime + 10))

    res = run_topology(spark, str(src), str(tmp_path / "out"))
    assert res.aggregates.read().count() == 1  # only the valid event
    dlq = res.read_dlq().collect()
    bad = [r for r in dlq if r.raw_payload is not None]
    assert len(bad) == 1
    assert bad[0].raw_payload == "%%% totally not json %%%"
    assert bad[0].validation_failures.startswith("malformed:json")


def test_topology_drift_branch(spark, tmp_path):
    """The drift branch scores each micro-batch's value distribution
    against a fixed reference histogram with PSI (live twin of q_psi): a
    batch matching the reference reads stable, a shifted batch is
    flagged — all within the validator's value range so the drift branch,
    not the DLQ, catches the change."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    # reference: values concentrated in bin 0 ([0, 50))
    reference = spark.createDataFrame(
        [(float(v),) for v in (5, 10, 15, 20, 25, 30, 35, 40)], "value DOUBLE"
    )
    # batch 0: same regime as the reference -> stable
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(i, f"2024-01-19 10:00:0{i}", value=float(5 * i)), **valid_kwargs)
            for i in range(1, 9)
        ],
        seq=0,
    )
    # batch 1: values jump to bin 1 ([50, 100]) — still VALID, but drifted
    write_file(
        str(src),
        "f2.json",
        [
            dict(
                ev(10 + i, f"2024-01-19 10:01:0{i}", value=float(55 + 5 * i)),
                **valid_kwargs,
            )
            for i in range(1, 9)
        ],
        seq=1,
    )
    result = run_topology(
        spark, str(src), str(tmp_path / "out"), drift_reference=reference
    )
    rows = {r.epoch: r for r in result.drift.read().collect()}
    assert len(rows) == 2
    assert rows[0].stability == "stable" and rows[0].psi < 0.1
    assert rows[1].stability == "shifted" and rows[1].psi > 0.25
    assert rows[0].n_values == 8 and rows[1].n_values == 8


def test_drift_sink_psi_matches_python_recompute(spark, tmp_path):
    """DriftMonitorSink's live PSI (invoked directly as the foreachBatch
    callable) must equal a pure-Python recompute over the same reference
    and batch histograms — pinning the 'live twin of q_psi' claim."""
    import math

    from real_time_iot_data_engineering_pipeline_spark.streaming.monitor import (
        DriftMonitorSink,
    )

    ref_vals = [5.0, 12.0, 33.0, 47.0, 60.0, 75.0, 120.0, 260.0]
    batch_vals = [8.0, 55.0, 61.0, 99.0, 140.0, 410.0, 480.0]
    reference = spark.createDataFrame([(v,) for v in ref_vals], "value DOUBLE")
    sink = DriftMonitorSink(spark, str(tmp_path / "drift"), reference)
    batch = spark.createDataFrame([(v,) for v in batch_vals], "value DOUBLE")
    sink(batch, 7)
    row = sink.read().collect()[0]

    def shares(vals):
        counts = dict.fromkeys(range(10), 0)
        for v in vals:
            counts[min(int(v // 50), 9)] += 1
        n = len(vals)
        return {b: (counts[b] + 1.0) / (n + 10.0) for b in range(10)}

    p, q = shares(batch_vals), shares(ref_vals)
    psi = sum((p[b] - q[b]) * math.log(p[b] / q[b]) for b in range(10))
    assert row.epoch == 7 and row.n_values == len(batch_vals)
    assert row.psi == round(psi, 6)
    assert row.stability == (
        "stable" if psi < 0.1 else "moderate" if psi < 0.25 else "shifted"
    )


def test_topology_cusum_branch(spark, tmp_path):
    """The online-CUSUM branch raises a changepoint alarm from drift
    accumulated ACROSS micro-batches while the readings stay inside the
    validator's range (the DLQ never sees them): batch 0 charges the
    positive sum, batch 1 crosses the threshold."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    # mu0=50, slack=2, h=30: each 65.0 reading adds 13 to s+
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(1, "2024-01-19 10:00:00", value=50.0), **valid_kwargs),
            dict(ev(2, "2024-01-19 10:00:10", value=65.0), **valid_kwargs),
            dict(ev(3, "2024-01-19 10:00:20", value=65.0), **valid_kwargs),
        ],
        seq=0,
    )
    write_file(
        str(src),
        "f2.json",
        [
            dict(ev(4, "2024-01-19 10:00:30", value=65.0), **valid_kwargs),
            dict(ev(5, "2024-01-19 10:00:40", value=50.0), **valid_kwargs),
        ],
        seq=1,
    )
    result = run_topology(
        spark, str(src), str(tmp_path / "out"), cusum_mu0=50.0
    )
    rows = {r.event_id: r for r in result.read("cusum").collect()}
    assert len(rows) == 5
    assert rows[3].s_pos == 26.0 and not rows[3].alarm
    # batch boundary: 26 carried + 13 = 39 > 30 -> alarm
    assert rows[4].s_pos == 39.0 and rows[4].alarm
    assert rows[5].s_pos == 0.0 and not rows[5].alarm  # post-alarm reset
    assert result.aggregates.read().count() >= 1  # main path unaffected


def test_topology_zscore_branch(spark, tmp_path):
    """The online z-gate branch flags an in-range spike (the validator
    passes it — range-valid but statistically anomalous) using moments
    accumulated ACROSS micro-batches, while the main aggregate path is
    unaffected."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    base = [10.0, 12.0, 10.0, 12.0, 10.0, 12.0]
    write_file(
        str(src),
        "f1.json",
        [
            dict(ev(i + 1, f"2024-01-19 10:00:{i:02d}", value=v), **valid_kwargs)
            for i, v in enumerate(base)
        ],
        seq=0,
    )
    write_file(
        str(src),
        "f2.json",
        [
            dict(ev(7, "2024-01-19 10:00:06", value=90.0), **valid_kwargs),
            dict(ev(8, "2024-01-19 10:00:07", value=11.0), **valid_kwargs),
        ],
        seq=1,
    )
    result = run_topology(
        spark, str(src), str(tmp_path / "out"), with_zscore_gate=True
    )
    rows = {r.event_id: r for r in result.read("zscore").collect()}
    assert len(rows) == 8
    assert all(rows[eid].z is None for eid in range(1, 6))  # warmup
    assert not rows[6].is_anomaly
    assert rows[7].is_anomaly and rows[7].n_seen == 6  # cross-batch moments
    assert not rows[8].is_anomaly and rows[8].n_seen == 6  # spike excluded
    assert result.aggregates.read().count() >= 1  # main path unaffected


def test_topology_flood_detector_branch(spark, tmp_path):
    """The flood-detector branch surfaces a hot key from Misra-Gries
    state carried across micro-batches while ordinary traffic stays
    below the sketch bound."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    eid = 0

    def batch(keys, seq):
        nonlocal eid
        rows = []
        for k in keys:
            rows.append(
                dict(
                    ev(eid, f"2024-01-19 10:{seq:02d}:{eid % 60:02d}", value=5.0),
                    user_id=k,
                    **valid_kwargs,
                )
            )
            eid += 1
        write_file(str(src), f"f{seq}.json", rows, seq=seq)

    batch([7] * 15 + [1, 2, 3], 0)
    batch([7] * 15 + [4, 5], 1)
    result = run_topology(
        spark, str(src), str(tmp_path / "out"), with_flood_detector=True
    )
    rows = result.read("flood").collect()
    assert rows
    final_processed = {}
    for r in rows:
        final_processed[r.bucket] = max(final_processed.get(r.bucket, 0), r.processed)
    final = [r for r in rows if r.processed == final_processed[r.bucket]]
    est = {r.key: r.est_count for r in final}
    assert est.get(7, 0) == max(est.values())  # the flood key dominates
    assert est[7] >= 30 - sum(final_processed.values()) / 8
    assert result.aggregates.read().count() >= 1  # main path unaffected


def write_mixed_traffic(src) -> None:
    """Two files of views and clicks by three users, user 2 flooding clicks
    of 65.0 (over the CUSUM target of 50), plus one row with a malformed
    event_type for the DLQ: every optional branch has rows to write."""
    valid_kwargs = dict(props='{"k": 1}')
    eid = 0

    def rows(seq, pairs):
        nonlocal eid
        out = []
        for etype, value, user in pairs:
            out.append(
                dict(
                    ev(eid, f"2024-01-19 10:{seq:02d}:{eid % 60:02d}", value=value),
                    user_id=user,
                    event_type=etype,
                    **valid_kwargs,
                )
            )
            eid += 1
        return out

    write_file(
        str(src),
        "f1.json",
        rows(0, [("view", 10.0, 1), ("click", 12.0, 1), ("view", 10.0, 2),
                 ("click", 65.0, 2), ("bad type!", 5.0, 3)]),
        seq=0,
    )
    write_file(
        str(src),
        "f2.json",
        rows(1, [("click", 65.0, 2), ("click", 65.0, 2), ("view", 11.0, 1)]),
        seq=1,
    )


def drift_reference(spark):
    return spark.createDataFrame(
        [(float(v),) for v in (5, 10, 15, 20, 25, 30, 35, 40)], "value DOUBLE"
    )


def test_topology_all_branches_together(spark, tmp_path):
    """All six optional branches active in ONE topology run (attribution,
    monitor, drift, CUSUM, z-gate, flood detector) beside the main and
    DLQ paths: eight concurrent streaming queries over the shared source
    listing, each with its own checkpoint — the configuration no
    per-branch test exercises, guarding against checkpoint collisions or
    cross-branch watermark interference."""
    src = tmp_path / "src"
    src.mkdir()
    write_mixed_traffic(src)
    result = run_topology(
        spark,
        str(src),
        str(tmp_path / "out"),
        with_monitor=True,
        with_attribution=True,
        drift_reference=drift_reference(spark),
        cusum_mu0=50.0,
        with_zscore_gate=True,
        with_flood_detector=True,
    )
    # every branch produced its artifact; none starved another
    assert result.aggregates.read().count() >= 1
    assert result.read_dlq().count() == 1  # the bad event_type row
    assert result.read("cusum").count() >= 1
    assert result.read("zscore").count() >= 1
    assert result.read("flood").count() >= 1
    assert result.monitor is not None and result.monitor.read().count() >= 1
    assert result.drift is not None and result.drift.read().count() >= 1


BRANCHES = ("main", "dlq", "attribution", "monitor", "drift", "cusum", "zscore",
            "flood", "sample", "quantiles", "valid")
EPOCH_WRITER_BRANCHES = ("dlq", "valid", "attribution", "cusum", "zscore", "flood",
                         "sample", "quantiles")


def test_topology_query_names_and_directories(spark, tmp_path):
    """Every branch is query topology-<name> checkpointed at
    out/ckpt-topology-<name>, so existing checkpoints resume, and every
    epoch-writer branch's read(name) reads what it wrote under out/<name>.
    A default run starts exactly the two queries perfbench waits on."""
    src = tmp_path / "src"
    src.mkdir()
    write_mixed_traffic(src)

    default = run_topology(spark, str(src), str(tmp_path / "default"))
    assert sorted(q.name for q in default.queries) == ["topology-dlq", "topology-main"]

    out = str(tmp_path / "out")
    result = run_topology(
        spark,
        str(src),
        out,
        with_monitor=True,
        with_attribution=True,
        drift_reference=drift_reference(spark),
        cusum_mu0=50.0,
        with_zscore_gate=True,
        with_flood_detector=True,
        with_sampler=True,
        with_quantiles=True,
        with_valid=True,
    )
    assert sorted(q.name for q in result.queries) == sorted(f"topology-{n}" for n in BRANCHES)
    assert not any(q.isActive for q in result.queries)
    assert {d for d in os.listdir(out) if d.startswith("ckpt-")} == {
        f"ckpt-topology-{n}" for n in BRANCHES
    }
    for name in EPOCH_WRITER_BRANCHES:
        files = result.read(name).inputFiles()
        assert files, name
        assert all(f.startswith(f"file://{out}/{name}/epoch=") for f in files), name


def test_topology_drops_a_row_late_by_its_own_event_time(spark, tmp_path):
    """The topology's dedup stage drops a row whose event time is at or
    below the late-event watermark, before the window aggregate sees it;
    windowed_aggregate alone drops a late row only once its window END is
    at or below that watermark.  The third file is filtered with the
    watermark after the first (10:10 less 1 minute; late-event filtering
    lags one batch, SPARK-24634): its 10:06 row is late by its own time,
    while its window [10:05, 10:10) is still open."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}')
    files = [
        [("10:10", 2.0)],
        [("10:11", 3.0)],
        [("10:06", 4.0), ("10:12", 6.0)],
    ]
    eid = 0
    for seq, rows in enumerate(files):
        batch = []
        for hhmm, value in rows:
            eid += 1
            batch.append(dict(ev(eid, f"2024-01-19 {hhmm}:00", value=value), **valid_kwargs))
        write_file(str(src), f"f{seq}.json", batch, seq=seq)

    result = run_topology(spark, str(src), str(tmp_path / "out"))
    assert sink_rows(result.aggregates) == {"1@2024-01-19T10:10:00": (11.0, 3)}
    (main,) = [q for q in result.queries if q.name == "topology-main"]
    dropped: dict[str, int] = {}
    for p in main.recentProgress:
        for op in p["stateOperators"]:
            name = op["operatorName"]
            dropped[name] = dropped.get(name, 0) + op["numRowsDroppedByWatermark"]
    assert dropped == {"dedupeWithinWatermark": 1, "stateStoreSave": 0}

    alone = KeyedParquetSink(spark, str(tmp_path / "alone"), AGG_KEY_COLS)
    agg = windowed_aggregate(parse_event_stream(read_event_file_stream(spark, str(src))))
    drain([start_query(agg, str(tmp_path / "ckpt"), 1, foreach_batch=alone.foreach_batch())], 120)
    assert sink_rows(alone) == {
        "1@2024-01-19T10:05:00": (4.0, 1),
        "1@2024-01-19T10:10:00": (11.0, 3),
    }


def test_topology_soak_state_plateaus_under_late_dup_dlq_traffic(
    spark, tmp_path
):
    """Soak run: >=24 micro-batches of mixed traffic (the late-arrival
    taxonomy from streaming/late_fixtures.py, plus an exact duplicate and
    an out-of-range DLQ row per batch) through the full topology, with a
    MetricsListener attached.  The watermark-eviction guarantee SURVEY
    §2.8 claims — RocksDB state rows PLATEAU while cumulative input grows
    linearly — is asserted on the listener's per-batch state counts, and
    the DLQ/dedup/agg branches are cross-checked on exact row counts."""
    import datetime as dt

    from real_time_iot_data_engineering_pipeline_spark.streaming import (
        MetricsListener,
    )
    from real_time_iot_data_engineering_pipeline_spark.streaming.late_fixtures import (
        late_events,
    )

    src = tmp_path / "src"
    src.mkdir()
    n_files, per_batch = 24, 25
    base = dt.datetime(2024, 1, 15, 10, 0, 0)
    # late_events emits props="{}", which the validator rejects
    # (bad_type:props.k) — give the soak's valid traffic a numeric k
    stream = [
        dict(e, props='{"k": 1}')
        for e in late_events(n_files * per_batch, base)
    ]
    n_dlq = 0
    for seq in range(n_files):
        batch = stream[seq * per_batch : (seq + 1) * per_batch]
        rows = list(batch)
        # exact duplicate of the batch's first event (same event_id/ts):
        # must be absorbed by dropDuplicatesWithinWatermark, not the agg
        rows.append(dict(batch[0]))
        # one out-of-range reading per batch: must route to the DLQ
        rows.append(
            {
                "event_id": 100_000 + seq,
                "ts": batch[-1]["ts"],
                "user_id": 1,
                "event_type": "reading",
                "value": 500.0,
                "props": "{}",
            }
        )
        n_dlq += 1
        write_file(str(src), f"soak-{seq:03d}.json", rows, seq=seq)

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        result = run_topology(spark, str(src), str(tmp_path / "out"))
        import time

        deadline = time.time() + 30
        while (
            time.time() < deadline
            and sum(
                1
                for b in listener.batches
                if b.query_name == "topology-main" and b.num_input_rows > 0
            )
            < n_files
        ):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    main = [
        b
        for b in listener.batches
        if b.query_name == "topology-main" and b.num_input_rows > 0
    ]
    main.sort(key=lambda b: b.batch_id)
    assert len(main) >= n_files, "one non-empty micro-batch per soak file"
    total_in = sum(b.num_input_rows for b in main)
    assert total_in == n_files * (per_batch + 2)

    # --- the plateau claim -------------------------------------------------
    # Cumulative input grows linearly across the soak; state must not.
    # Warm-up (watermark still catching the 60-min lateness tail) is the
    # first third; after that the per-batch state-row count must flatline:
    # the late-thirds peak may not exceed the middle-third peak, and the
    # overall peak must be a small multiple of one batch, not of the run.
    third = len(main) // 3
    peak_mid = max(b.state_rows for b in main[third : 2 * third])
    peak_late = max(b.state_rows for b in main[2 * third :])
    assert peak_late <= peak_mid, (
        f"state still growing late in the soak: {peak_late} > {peak_mid} "
        f"(per-batch: {[b.state_rows for b in main]})"
    )
    peak = max(b.state_rows for b in main)
    assert peak < 4 * (per_batch + 2), (
        f"state peak {peak} is not O(one batch) — eviction is not happening"
    )
    assert peak < total_in / 4, "state scaled with cumulative input"

    # --- branch cross-checks ----------------------------------------------
    assert result.read_dlq().count() == n_dlq
    aggs = result.aggregates.read()
    assert aggs.count() >= 5
    # dedup absorbed every injected duplicate: total aggregated count ==
    # distinct surviving (non-late, in-range) events, never double-counted
    from pyspark.sql import functions as F

    agg_total = aggs.agg(F.sum("count")).collect()[0][0]
    assert agg_total <= n_files * per_batch  # late rows drop, dups never add
    assert agg_total > n_files * per_batch // 2  # but most rows survive


def test_topology_sampler_branch(spark, tmp_path):
    """The audit-sample branch emits the deterministic bottom-k sample of
    the VALID stream only — DLQ'd rows must never enter the sample."""
    import hashlib

    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    good_ids = list(range(8))
    rows = [
        dict(ev(i, f"2024-01-19 10:00:{i:02d}", value=2.0), **valid_kwargs)
        for i in good_ids
    ]
    rows.append(
        dict(ev(99, "2024-01-19 10:00:30", value=500.0), **valid_kwargs)
    )  # out of range -> DLQ
    write_file(str(src), "f1.json", rows, seq=0)
    result = run_topology(
        spark, str(src), str(tmp_path / "out"), with_sampler=True
    )
    sample = result.read("sample").collect()
    got = {r.event_id for r in sample}
    assert 99 not in got
    assert got == set(good_ids)  # fewer rows than capacity: all sampled
    for r in sample:
        assert r.sample_hash == hashlib.md5(
            str(r.event_id).encode()
        ).hexdigest()


def test_branches_that_emitted_nothing_read_as_empty(spark, tmp_path):
    """A drain whose only row is out of range sends it to the DLQ, and
    every append branch, stateless (valid) or stateful (sample, zscore),
    still leaves its epoch directories, so read(name) is an empty frame
    rather than a missing path."""
    src = tmp_path / "src"
    src.mkdir()
    bad = dict(ev(99, "2024-01-19 10:00:30", value=500.0), props='{"k": 1}', event_type="click")
    write_file(str(src), "f1.json", [bad], seq=0)
    result = run_topology(
        spark,
        str(src),
        str(tmp_path / "out"),
        with_sampler=True,
        with_valid=True,
        with_zscore_gate=True,
    )
    assert [r.event_id for r in result.read_dlq().collect()] == [99]
    for name in ("valid", "sample", "zscore"):
        assert result.read(name).count() == 0, name


def test_topology_quantiles_branch(spark, tmp_path):
    """The distribution-summary branch emits per-type histogram quantiles of
    the VALID stream only — an out-of-range (DLQ) value must not move the
    summary, and processed must count exactly the admitted rows."""
    src = tmp_path / "src"
    src.mkdir()
    valid_kwargs = dict(props='{"k": 1}', event_type="click")
    rows = [
        dict(ev(i, f"2024-01-19 10:00:{i:02d}", value=float(10 * i)), **valid_kwargs)
        for i in range(1, 9)  # values 10..80, all in range
    ]
    rows.append(
        dict(ev(99, "2024-01-19 10:00:30", value=500.0), **valid_kwargs)
    )  # out of range -> DLQ, must not enter the histogram
    write_file(str(src), "f1.json", rows, seq=0)
    result = run_topology(
        spark, str(src), str(tmp_path / "out"), with_quantiles=True
    )
    summ = result.read("quantiles").collect()
    final = max(summ, key=lambda r: r.processed)
    assert final.event_type == "click"
    assert final.processed == 8  # the DLQ'd row is not counted
    # p50 of 10..80 = rank ceil(0.5*8)=4 -> the bin holding 40
    assert abs(final.p50 - 40.0) <= final.err_bound
    assert final.p99 <= 80.0 + final.err_bound  # 500 never entered
