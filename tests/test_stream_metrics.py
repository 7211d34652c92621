"""What a micro-batch of the topology reports about itself: stateful work
counted once per epoch, the listener's progress breakdown, and a state
checkpoint that survives a change of checkpoint format.

Each test drives run_topology over two files (one file per micro-batch)
and compares against a pure-Python recount of the same rows."""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import pytest

from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink
from real_time_iot_data_engineering_pipeline_spark.streaming import MetricsListener
from real_time_iot_data_engineering_pipeline_spark.streaming.listener import PHASES
from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import AGG_KEY_COLS
from real_time_iot_data_engineering_pipeline_spark.streaming.topology import (
    run_topology,
)

from .test_streaming import write_file

CHANGELOG_CONF = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
WINDOW_S = 300


def reading(event_id: int, ts: str, user_id: int, value: float = 1.0) -> dict:
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": "reading",
        "value": value,
        "props": '{"k": 1}',
    }


# Two batches, no row late and no window closed: batch 0 fills the 10:00
# window, batch 1 the 10:05 window, which batch 0's watermark (its max
# event time less 1 minute, before 10:04) leaves open.  Each batch also
# carries an exact duplicate (absorbed by the dedup state) and an
# out-of-range reading (DLQ).
BATCHES = [
    [reading(i, f"2024-01-19 10:0{i % 5}:{i:02d}", user_id=i % 4) for i in range(12)]
    + [reading(0, "2024-01-19 10:00:00", user_id=0), reading(90, "2024-01-19 10:01:00", 1, 500.0)],
    [reading(100 + i, f"2024-01-19 10:0{5 + i % 5}:{i:02d}", user_id=i % 5) for i in range(12)]
    + [reading(100, "2024-01-19 10:05:00", user_id=0), reading(190, "2024-01-19 10:07:00", 2, 500.0)],
]


def valid_unique(rows: list[dict], seen: set) -> list[dict]:
    out = []
    for r in rows:
        key = (r["event_id"], r["ts"])
        if 0 <= r["value"] <= 100 and key not in seen:
            seen.add(key)
            out.append(r)
    return out


def window_key(r: dict) -> tuple[int, int]:
    epoch_s = int(dt.datetime.fromisoformat(r["ts"]).replace(tzinfo=dt.timezone.utc).timestamp())
    return r["user_id"], epoch_s // WINDOW_S * WINDOW_S


def expected_state() -> list[tuple[int, int]]:
    """(keys updated, keys held) of the aggregation per batch; no window
    closes within the two batches, so held keys accumulate."""
    seen: set = set()
    held: set = set()
    out = []
    for rows in BATCHES:
        updated = {window_key(r) for r in valid_unique(rows, seen)}
        held |= updated
        out.append((len(updated), len(held)))
    return out


def drain(spark, src: str, out: str, n_batches: int) -> list:
    """run_topology with a MetricsListener attached; returns the main
    query's non-empty micro-batches of this run, in order."""
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        run_topology(spark, src, out)
        deadline = time.time() + 30

        def main():
            return [
                b for b in listener.batches
                if b.query_name == "topology-main" and b.num_input_rows > 0
            ]

        while time.time() < deadline and len(main()) < n_batches:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    return sorted(main(), key=lambda b: b.batch_id)


@pytest.fixture(scope="module")
def two_batches(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream-metrics")
    src = root / "src"
    src.mkdir()
    for seq, rows in enumerate(BATCHES):
        write_file(str(src), f"f{seq}.json", rows, seq=seq)
    return drain(spark, str(src), str(root / "out"), len(BATCHES))


def test_stateful_metrics_count_each_epoch_once(two_batches):
    """The aggregation's state metrics equal the recount of (sensor,
    window) keys: the epoch's plan, state stores included, ran once.  A
    foreachBatch body that guards with isEmpty() before writing runs it
    twice and reports every figure doubled."""
    assert len(two_batches) == len(BATCHES)
    got = []
    for b in two_batches:
        (agg,) = [op for op in b.state_operators if op.name == "stateStoreSave"]
        got.append((agg.rows_updated, agg.rows_total))
    assert got == expected_state()


def test_listener_keeps_the_progress_breakdown(two_batches):
    """Phase durations, the watermark, and per state operator the rows
    dropped by the watermark and the state memory, for both batches."""
    first, second = two_batches
    for b in two_batches:
        assert set(b.phase_seconds) == set(PHASES)
        assert all(v >= 0 for v in b.phase_seconds.values())
        assert b.phase_seconds["addBatch"] > 0
        assert sum(b.phase_seconds.values()) <= b.duration_seconds + 1e-9
        assert {op.name for op in b.state_operators} == {
            "dedupeWithinWatermark",
            "stateStoreSave",
        }
        assert all(op.memory_used_bytes > 0 for op in b.state_operators)
        # no row of the two batches is behind the watermark
        assert all(op.rows_dropped_by_watermark == 0 for op in b.state_operators)
        assert b.state_rows == sum(op.rows_total for op in b.state_operators)
    # batch 0 runs before any event time is seen; batch 1 under the first
    # batch's max event time less the 1-minute delay
    assert first.watermark == "1970-01-01T00:00:00.000Z"
    max_ts = max(r["ts"] for r in valid_unique(BATCHES[0], set()))
    wm = dt.datetime.fromisoformat(max_ts) - dt.timedelta(minutes=1)
    assert second.watermark == wm.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def test_snapshot_checkpoint_resumes_with_changelog_checkpointing(spark, tmp_path):
    """A topology checkpoint written with changelog checkpointing off (the
    state format before it was turned on) resumes with it on: the restart
    reads only the new file, and the aggregates equal the recount over
    both files."""
    src, out = tmp_path / "src", str(tmp_path / "out")
    src.mkdir()
    assert spark.conf.get(CHANGELOG_CONF) == "true"
    write_file(str(src), "f0.json", BATCHES[0], seq=0)
    spark.conf.set(CHANGELOG_CONF, "false")
    try:
        first = drain(spark, str(src), out, 1)
    finally:
        spark.conf.set(CHANGELOG_CONF, "true")
    state = os.path.join(out, "ckpt-topology-main", "state")
    assert glob.glob(f"{state}/**/*.zip", recursive=True)
    assert not glob.glob(f"{state}/**/*.changelog", recursive=True)

    write_file(str(src), "f1.json", BATCHES[1], seq=1)
    second = drain(spark, str(src), out, 1)
    assert glob.glob(f"{state}/**/*.changelog", recursive=True)
    assert [b.num_input_rows for b in first] == [len(BATCHES[0])]
    assert [b.num_input_rows for b in second] == [len(BATCHES[1])]
    assert second[0].batch_id > first[-1].batch_id

    seen: set = set()
    expected: dict = {}
    for rows in BATCHES:
        for r in valid_unique(rows, seen):
            k = window_key(r)
            expected[k] = expected.get(k, 0) + 1
    aggs = KeyedParquetSink(spark, os.path.join(out, "aggs"), AGG_KEY_COLS)
    got = {
        (r.user_id, int(r.window_start.replace(tzinfo=dt.timezone.utc).timestamp())): r["count"]
        for r in aggs.read().collect()
    }
    assert got == expected
