"""How the streaming entry points start and drain their queries
(streaming/launch.py): two entry points, which start every query through
launch.py, stateful operators that all go through one GroupState adapter
(streaming/stateful.py), one deadline for a whole drain, state stages no wider than the
input one trigger admits, a checkpoint that keeps the width it was
created with and commits its files by rename, and the stateless DLQ
branch's direct write."""

from __future__ import annotations

import ast
import datetime as dt
import os
from pathlib import Path

import pytest

from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink
from real_time_iot_data_engineering_pipeline_spark.streaming import launch
from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import AGG_KEY_COLS
from real_time_iot_data_engineering_pipeline_spark.streaming.router import replay_dlq
from real_time_iot_data_engineering_pipeline_spark.streaming.topology import (
    run_topology,
)

from . import test_stream_metrics as metrics
from .test_streaming import write_file


def test_launch_starts_every_query_of_the_two_entry_points():
    """In streaming/, only launch.py touches writeStream, and the only
    run_* functions are the two entry points."""
    writers, entry_points = set(), set()
    for path in sorted(Path(launch.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                writers.add(path.name)
            if isinstance(node, ast.FunctionDef) and node.name.startswith("run_"):
                entry_points.add(node.name)
    assert writers == {"launch.py"}
    assert entry_points == {"run_topology", "run_doc_ingest"}


# stateful.py's GroupState adapter: the fold wrapper and its wiring helper
GROUP_STATE_ADAPTER = {"group_fold", "apply_group_fold"}


def named(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else None


def test_only_the_group_state_adapter_speaks_the_protocol():
    """In streaming/, only stateful.py's adapter names
    applyInPandasWithState or hasTimedOut or calls arm_idle_timeout: every
    stateful operator is a step function behind that one adapter, so the
    evict-on-timeout and re-arm rules live in one place."""
    sites = []
    for path in sorted(Path(launch.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        adapter = set()
        if path.name == "stateful.py":
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name in GROUP_STATE_ADAPTER:
                    adapter |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if id(node) in adapter:
                continue
            if isinstance(node, ast.Call) and named(node.func) == "arm_idle_timeout":
                sites.append(f"{path.name}:{node.lineno} calls arm_idle_timeout")
            if named(node) in ("applyInPandasWithState", "hasTimedOut"):
                sites.append(f"{path.name}:{node.lineno} names {named(node)}")
    assert sites == []


class StubQuery:
    """A StreamingQuery stand-in on a fake clock: awaiting it advances the
    clock by `runs_s` or by the timeout, whichever is smaller, and it
    terminates only if it ran to the end."""

    def __init__(self, clock: list[float], runs_s: float, fails: bool = False):
        self.clock = clock
        self.runs_s = runs_s
        self.fails = fails
        self.timeouts: list[float] = []
        self.isActive = True
        self.stopped = False

    def awaitTermination(self, timeout: float) -> bool:
        assert timeout > 0  # pyspark rejects a timeout <= 0
        self.timeouts.append(timeout)
        self.clock[0] += min(timeout, self.runs_s)
        if self.fails:
            raise RuntimeError("query failed")
        if self.runs_s <= timeout:
            self.isActive = False
        return not self.isActive

    def stop(self) -> None:
        self.stopped = True
        self.isActive = False


@pytest.fixture
def clock(monkeypatch) -> list[float]:
    now = [1000.0]
    monkeypatch.setattr(launch, "monotonic", lambda: now[0])
    return now


def test_drain_hands_out_one_budget_across_stuck_queries(clock):
    """Nine stuck queries under a 10-s budget: the timeouts handed out add
    up to the budget, not to nine times it, and every query is stopped."""
    stubs = [StubQuery(clock, runs_s=float("inf")) for _ in range(9)]
    launch.drain(stubs, 10.0)
    assert sum(t for s in stubs for t in s.timeouts) <= 10.0
    assert clock[0] - 1000.0 <= 10.0
    assert all(s.stopped for s in stubs)


def test_drain_gives_each_query_what_the_earlier_ones_left(clock):
    """Queries that finish hand their unused time to the next; the one
    still running when the budget is spent is stopped, the finished ones
    are left alone."""
    stubs = [StubQuery(clock, runs_s=r) for r in (2.0, 3.0, 9.0, 1.0)]
    launch.drain(stubs, 10.0)
    assert [s.timeouts for s in stubs] == [[10.0], [8.0], [5.0], []]
    assert [s.stopped for s in stubs] == [False, False, True, True]
    assert not any(s.isActive for s in stubs)


def test_drain_stops_every_query_when_one_fails(clock):
    stubs = [StubQuery(clock, runs_s=1.0, fails=True)] + [
        StubQuery(clock, runs_s=float("inf")) for _ in range(2)
    ]
    with pytest.raises(RuntimeError, match="query failed"):
        launch.drain(stubs, 10.0)
    assert all(not s.isActive for s in stubs)
    assert stubs[1].stopped and stubs[2].stopped


# Four files whose event times only move forward: file k holds minutes
# 5k..5k+4, beyond the previous file's watermark (its max less 1 minute),
# so no row is late however the files are grouped into micro-batches, and
# the final aggregates do not depend on the grouping.
FILES = [
    [metrics.reading(100 * k + i, f"2024-01-19 10:{5 * k + i % 5:02d}:{i:02d}", user_id=i % 3)
     for i in range(10)]
    + [metrics.reading(100 * k, f"2024-01-19 10:{5 * k:02d}:00", user_id=0)]  # duplicate
    for k in range(4)
]


def write_files(src, files: list[list[dict]], first: int = 0) -> None:
    for seq, rows in enumerate(files, start=first):
        write_file(str(src), f"f{seq}.json", rows, seq=seq)


def state_widths(batches: list) -> set[tuple[str, int]]:
    return {(op.name, op.shuffle_partitions) for b in batches for op in b.state_operators}


def aggregates(result) -> dict:
    return {
        (r.user_id, r.window_start.replace(tzinfo=dt.timezone.utc).timestamp()): (
            r["count"], r.sum_value, r.min_value, r.max_value,
        )
        for r in result.collect()
    }


def test_state_stages_are_as_wide_as_one_trigger_admits(spark, tmp_path):
    """Under the 8-partition test session, a drain admitting one file per
    trigger runs both state operators with one state partition, and the
    session keeps its own 8."""
    assert spark.conf.get(launch.SHUFFLE_PARTITIONS) == "8"
    src = tmp_path / "src"
    src.mkdir()
    write_files(src, FILES[:2])
    batches = metrics.drain(spark, str(src), str(tmp_path / "out"), 2, max_files_per_trigger=1)
    assert len(batches) == 2
    assert state_widths(batches) == {("dedupeWithinWatermark", 1), ("stateStoreSave", 1)}
    assert spark.conf.get(launch.SHUFFLE_PARTITIONS) == "8"


def test_a_checkpoint_keeps_the_state_width_it_was_created_with(spark, tmp_path):
    """Created admitting 4 files per trigger, the checkpoint has 4 state
    partitions; resumed admitting 1, it keeps 4 (Spark restores the count
    from the offset log), and the aggregates equal a fresh one-file drain
    of the same files."""
    src, out = tmp_path / "src", str(tmp_path / "out")
    src.mkdir()
    write_files(src, FILES[:2])
    first = metrics.drain(spark, str(src), out, 1, max_files_per_trigger=4)
    assert [b.num_input_rows for b in first] == [sum(len(f) for f in FILES[:2])]
    write_files(src, FILES[2:], first=2)
    second = metrics.drain(spark, str(src), out, 2, max_files_per_trigger=1)
    assert [b.num_input_rows for b in second] == [len(f) for f in FILES[2:]]
    for batches in (first, second):
        assert state_widths(batches) == {("dedupeWithinWatermark", 4), ("stateStoreSave", 4)}

    fresh_out = str(tmp_path / "fresh")
    fresh = metrics.drain(spark, str(src), fresh_out, len(FILES), max_files_per_trigger=1)
    assert state_widths(fresh) == {("dedupeWithinWatermark", 1), ("stateStoreSave", 1)}
    resumed = KeyedParquetSink(spark, os.path.join(out, "aggs"), AGG_KEY_COLS)
    again = KeyedParquetSink(spark, os.path.join(fresh_out, "aggs"), AGG_KEY_COLS)
    got = aggregates(resumed.read())
    assert got == aggregates(again.read())
    assert sum(c for c, *_ in got.values()) == sum(len(f) - 1 for f in FILES)


def test_checkpoint_files_commit_through_the_file_system(spark, tmp_path):
    """Under build_session a local checkpoint's offset, commit and state
    files commit with FileSystem.rename, which is rename(2), instead of
    FileContext.rename, whose link-status lookup forks processes when the
    Hadoop client has no native library."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_an_all_valid_epoch_leaves_the_dlq_readable(spark, tmp_path):
    """The stateless DLQ branch writes every epoch directly: an all-valid
    epoch leaves an empty epoch directory, and read_dlq and replay_dlq
    still see exactly the quarantined rows."""
    src = tmp_path / "src"
    src.mkdir()
    bad = metrics.reading(900, "2024-01-19 10:06:00", user_id=1, value=500.0)
    write_files(src, [FILES[0], FILES[1] + [bad]])
    res = run_topology(spark, str(src), str(tmp_path / "out"))

    epochs = sorted(os.listdir(res.dlq_dir))
    assert epochs == ["epoch=0", "epoch=1"]
    all_valid = os.path.join(res.dlq_dir, "epoch=0")
    assert spark.read.parquet(all_valid).count() == 0
    dlq = res.read_dlq().collect()
    assert [(r.event_id, r.validation_failures) for r in dlq] == [(900, "out_of_range:value")]
    replay = replay_dlq(spark, res.dlq_dir)
    assert replay.recovered.count() == 0
    assert [r.event_id for r in replay.still_failing.collect()] == [900]
