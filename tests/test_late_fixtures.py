"""Late-data fixture generator vs the streaming window aggregate: the
simulator encodes the watermark semantics pinned in tests/test_streaming.py;
the generated stream (reference lateness taxonomy, generator.py:258-292)
must produce EXACTLY the simulated windows when run through Spark.

The simulator models windowed_aggregate on its own, which drops a late row
once its window END is at or below the late-event watermark.  The topology
drops late rows earlier, by their own event time, in its dedup stage
(tests/test_topology.py pins the difference)."""

from __future__ import annotations

import pytest

from real_time_iot_data_engineering_pipeline_spark.streaming.late_fixtures import (
    LATE_CLASSES,
    late_events,
    lateness_seconds,
    simulate_windowed_counts,
    write_late_files,
)
from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink
from real_time_iot_data_engineering_pipeline_spark.streaming.launch import drain, start_query
from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import (
    AGG_KEY_COLS,
    parse_event_stream,
    read_event_file_stream,
    windowed_aggregate,
)


def test_lateness_rates_match_reference():
    """generator.py:10-17 — 5% late 1-5 min, 3% 5-15 min, 2% 15-60 min."""
    n = 10_000
    lates = [lateness_seconds(i) for i in range(n)]
    frac = lambda lo, hi: sum(lo <= s < hi for s in lates) / n
    assert frac(60, 300) == pytest.approx(0.05, abs=0.001)
    assert frac(300, 900) == pytest.approx(0.03, abs=0.001)
    assert frac(900, 3600) == pytest.approx(0.02, abs=0.001)
    assert frac(0, 1) == pytest.approx(0.90, abs=0.001)


def test_generated_stream_matches_simulated_watermark_semantics(spark, tmp_path):
    src = str(tmp_path / "src")
    batches = write_late_files(src, n_events=200, n_files=8)
    expected = simulate_windowed_counts(batches)

    sink = KeyedParquetSink(spark, str(tmp_path / "sink"), AGG_KEY_COLS)
    agg = windowed_aggregate(parse_event_stream(read_event_file_stream(spark, src)))
    drain([start_query(agg, str(tmp_path / "ckpt"), 1, foreach_batch=sink.foreach_batch())], 120)
    got = {
        str(r.window_start): (r.sum_value, r["count"])
        for r in sink.read().collect()
    }
    assert got == expected
    # sanity: the fixture actually exercised the drop path — some late
    # events were discarded (simulated count < total generated)
    total_kept = sum(c for _, c in expected.values())
    assert total_kept < 200
    assert any(s >= 60 for s in (lateness_seconds(i) for i in range(200)))
