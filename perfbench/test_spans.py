"""Tests of the trace folding: `python3 -m pytest perfbench -q`."""

from __future__ import annotations

import os
import time

import pytest

from spans import Span, Tracer, fold_event_log, spark_layers, tail, tree_cpu_s

LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_2op.jsonl")


def test_fold_two_op_event_log_into_layer_metrics():
    """A log captured from two queries (q_hourly_agg as op0, q_join_broadcast
    as op1), each built under '<op>:build' and executed under '<op>:exec'."""
    with open(LOG) as f:
        folded = fold_event_log(f)
    assert set(folded) == {"op0:build", "op0:exec", "op1:build", "op1:exec"}

    op0 = spark_layers(folded, ["op0:build", "op0:exec"])
    assert op0["queries.eager_jobs"] == 1
    assert op0["spark.jobs"] == 3 and op0["spark.tasks"] == 3
    assert op0["spark.shuffle_records"] == 9572
    assert op0["spark.shuffle_write_bytes"] == 385264

    both = spark_layers(folded, ["op0:build", "op0:exec", "op1:build", "op1:exec"], per=2)
    assert both["queries.eager_jobs"] == pytest.approx(1.5)
    assert both["spark.jobs"] == pytest.approx(4.0)
    assert both["spark.tasks"] == pytest.approx(4.0)
    assert both["spark.task_cpu_s"] == pytest.approx((0.042849904 + 0.970314266 + 0.005495334 + 0.339934603) / 2)
    assert both["spark.gc_s"] == pytest.approx((0.034 + 0.093) / 2)
    assert both["spark.shuffle_records"] == pytest.approx((9572 + 100) / 2)
    assert both["spark.spill_bytes"] == 0


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [
        Span("serving.sensors", 0.0, 10.0, None, "o1", 1),
        Span("sources.load_table", 1.0, 3.0, 0, "o1", 1),
        Span("sinks.upsert", 2.0, 5.0, 0, "o1", 2),  # overlaps the first child
        Span("sources.load_table", 4.0, 4.5, 2, "o1", 2),
    ]
    st = t.self_times()
    assert st["serving.sensors"] == pytest.approx(10.0 - 4.0)
    assert st["sources.load_table"] == pytest.approx(2.5)
    assert st["sinks.upsert"] == pytest.approx(2.5)


def test_spans_nest_and_cross_threads():
    import threading

    t = Tracer()
    with t.span("streaming.run_topology"):
        th = threading.Thread(target=lambda: t.span("sinks.upsert").__enter__())
        with t.span("sources.load_table"):
            pass
        th.start()
        th.join(timeout=10)
    names = {s.name: s for s in t.spans}
    assert names["sources.load_table"].parent == 0
    assert names["sinks.upsert"].parent == 0  # caused by the open span on the main thread


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail(range(1, 101)) == (90.0, 90.0, 100)
    assert tail(range(1, 21)) == (10.0, 50.0, 20)
    assert tail([3.0, 1.0]) == (3.0, 100.0, 2)


def test_tree_cpu_counts_live_and_reaped_children():
    import subprocess
    import sys

    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", spin + "time.sleep(30)"])
    time.sleep(1.5)  # the child has spun and now sleeps
    live = tree_cpu_s() - before
    child.kill()
    child.wait()
    subprocess.run([sys.executable, "-c", spin], check=True)
    reaped = tree_cpu_s() - before
    assert 0.5 <= live < 1.5
    assert live + 0.5 <= reaped < live + 1.5
