"""What a micro-batch of the topology reports about itself: stateful work
counted once per epoch, into the keyed sink whether it is partitioned or
not, the listener's progress breakdown, a retried merge that leaves the
table of a clean drain, and a state checkpoint that survives a change of
checkpoint format.

Each test drives the topology's main path over two files (one file per
micro-batch) and compares against a pure-Python recount of the same rows."""

from __future__ import annotations

import datetime as dt
import functools
import glob
import os
import re
import time

import pytest

from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink, retry
from real_time_iot_data_engineering_pipeline_spark.streaming import MetricsListener
from real_time_iot_data_engineering_pipeline_spark.streaming.launch import (
    drain as drain_queries,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.launch import start_query
from real_time_iot_data_engineering_pipeline_spark.streaming.listener import PHASES
from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import (
    AGG_KEY_COLS,
    CORRUPT_COL,
    dedup_stream,
    parse_event_stream,
    read_event_file_stream,
    windowed_aggregate,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.router import validated_stream
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


def listen(spark, run, name: str, n_batches: int) -> list:
    """Call run() with a MetricsListener attached; returns query `name`'s
    non-empty micro-batches of this run, in order."""
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        run()
        deadline = time.time() + 30

        def batches():
            return [b for b in listener.batches if b.query_name == name and b.num_input_rows > 0]

        while time.time() < deadline and len(batches()) < n_batches:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    return sorted(batches(), key=lambda b: b.batch_id)


def drain(spark, src: str, out: str, n_batches: int, max_files_per_trigger: int = 1) -> list:
    """run_topology, listened to; returns the main query's non-empty
    micro-batches of this run, in order."""
    return listen(
        spark,
        lambda: run_topology(spark, src, out, max_files_per_trigger=max_files_per_trigger),
        "topology-main",
        n_batches,
    )


def write_batches(src) -> None:
    src.mkdir()
    for seq, rows in enumerate(BATCHES):
        write_file(str(src), f"f{seq}.json", rows, seq=seq)


def recount() -> dict[tuple[int, int], int]:
    """Rows per (sensor, window) over every batch."""
    seen: set = set()
    expected: dict = {}
    for rows in BATCHES:
        for r in valid_unique(rows, seen):
            k = window_key(r)
            expected[k] = expected.get(k, 0) + 1
    return expected


def table_counts(sink: KeyedParquetSink) -> dict[tuple[int, int], int]:
    return {
        (r.user_id, int(r.window_start.replace(tzinfo=dt.timezone.utc).timestamp())): r["count"]
        for r in sink.read().collect()
    }


def aggregation_state(batches: list) -> list[tuple[int, int]]:
    """(keys updated, keys held) of the aggregation's state per batch."""
    out = []
    for b in batches:
        (agg,) = [op for op in b.state_operators if op.name == "stateStoreSave"]
        out.append((agg.rows_updated, agg.rows_total))
    return out


@pytest.fixture(scope="module")
def two_batches(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream-metrics")
    src = root / "src"
    write_batches(src)
    return drain(spark, str(src), str(root / "out"), len(BATCHES))


def test_stateful_metrics_count_each_epoch_once(two_batches):
    """The aggregation's state metrics equal the recount of (sensor,
    window) keys: the epoch's plan, state stores included, ran once.  A
    foreachBatch body that guards with isEmpty() before writing runs it
    twice and reports every figure doubled."""
    assert len(two_batches) == len(BATCHES)
    assert aggregation_state(two_batches) == expected_state()


def jobs_of_batch(spark, b) -> int:
    """Spark jobs micro-batch `b` ran, from the status tracker: a run's
    jobs carry its run id as job group and `batch = <id>` in their
    description."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    return sum(
        1
        for job in sc.statusTracker().getJobIdsForGroup(b.run_id)
        if re.search(r"batch = (\d+)", store.job(job).description().get()).group(1)
        == str(b.batch_id)
    )


def test_a_main_epoch_runs_only_its_merge_jobs(spark, two_batches):
    """The keyed sink runs each epoch's stateful plan inside its merge
    write, with no job of its own to materialize the epoch first.  The
    first merge has no table to read and runs on the stream's session,
    without AQE, in one job; the second reads the table through the
    sink's session, whose AQE runs the merge's shuffle as its own job."""
    assert [jobs_of_batch(spark, b) for b in two_batches] == [1, 2]


def test_a_pruned_merge_runs_each_epoch_plan_once(spark, tmp_path):
    """A partitioned sink's merge acts on its epoch twice (the touched
    partition values, then the write), so its adapter runs the epoch's
    plan once into a local checkpoint: the aggregation's state metrics
    equal the recount, not twice it, and the table holds the recount."""
    src = tmp_path / "src"
    write_batches(src)
    sink = KeyedParquetSink(spark, str(tmp_path / "aggs"), AGG_KEY_COLS, partition_col="user_id")
    valid = validated_stream(parse_event_stream(read_event_file_stream(spark, str(src))))
    main = windowed_aggregate(
        dedup_stream(valid.filter("is_valid").drop("failure_reasons", "is_valid", CORRUPT_COL)),
        watermark_delay=None,
    )

    def run():
        query = start_query(
            main, str(tmp_path / "ckpt"), 1, foreach_batch=sink.foreach_batch(), name="pruned"
        )
        drain_queries([query], 60)

    assert aggregation_state(listen(spark, run, "pruned", len(BATCHES))) == expected_state()
    assert table_counts(sink) == recount()


def test_a_retried_merge_leaves_the_table_of_a_clean_drain(spark, tmp_path, monkeypatch):
    """The keyed sink's merge write runs the epoch's stateful plan, so a
    retried attempt (run_topology retries each merge) runs the dedup and
    the aggregation again from the epoch's starting state.  A drain whose
    second merge fails once at its commit leaves the same table as a clean
    drain, holding the recount, and no extra version behind."""
    monkeypatch.setattr(retry, "with_retry", functools.partial(retry.with_retry, sleep=lambda s: None))
    src = tmp_path / "src"
    write_batches(src)
    drain(spark, str(src), str(tmp_path / "clean"), len(BATCHES))

    commit, commits = KeyedParquetSink._commit, []

    def fail_second_commit(self, version, prev_version):
        commits.append(version)
        if len(commits) == 2:
            raise OSError("injected commit failure")
        commit(self, version, prev_version)

    monkeypatch.setattr(KeyedParquetSink, "_commit", fail_second_commit)
    batches = drain(spark, str(src), str(tmp_path / "retried"), len(BATCHES))
    assert [b.num_input_rows for b in batches] == [len(rows) for rows in BATCHES]
    assert len(commits) == 3

    clean, retried = (
        KeyedParquetSink(spark, str(tmp_path / name / "aggs"), AGG_KEY_COLS)
        for name in ("clean", "retried")
    )
    assert sorted(retried.read().drop("processed_at").collect()) == sorted(
        clean.read().drop("processed_at").collect()
    )
    assert len(os.listdir(retried.root)) == len(os.listdir(clean.root))
    assert table_counts(retried) == recount()


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

    aggs = KeyedParquetSink(spark, os.path.join(out, "aggs"), AGG_KEY_COLS)
    assert table_counts(aggs) == recount()
