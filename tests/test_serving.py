"""Behavior tests for the serving layer (reference api/main.py placeholder +
Learning Guide.txt:1084 spec): parameter guards (400-analogs), the
sensor-not-found path (404-analog), the spec's cache TTLs with an injected
clock, and filter/limit semantics against a pandas recompute."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from real_time_iot_data_engineering_pipeline_spark.serving import (
    ANALYTICS_TTL_SEC,
    SENSORS_TTL_SEC,
    InvalidQueryError,
    SensorNotFoundError,
    ServingLayer,
    sensor_analytics_frame,
    sensors_latest_frame,
)
from real_time_iot_data_engineering_pipeline_spark.sources import load_table


class FakeClock:
    def __init__(self) -> None:
        self.t = 1000.0

    def __call__(self) -> float:
        return self.t


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


class TestGuards:
    def test_bad_granularity_rejected(self, events):
        with pytest.raises(InvalidQueryError, match="granularity"):
            sensor_analytics_frame(events, 7, "2024-01-01", "2024-01-02", "weekly")

    def test_reversed_range_rejected(self, events):
        with pytest.raises(InvalidQueryError, match="after"):
            sensor_analytics_frame(events, 7, "2024-01-10", "2024-01-05")

    def test_over_90_day_range_rejected(self, events):
        with pytest.raises(InvalidQueryError, match="90"):
            sensor_analytics_frame(events, 7, "2024-01-01", "2024-04-15")

    def test_exactly_90_days_allowed(self, events):
        sensor_analytics_frame(events, 7, "2024-01-01", "2024-03-31")

    def test_malformed_date_rejected(self, events):
        with pytest.raises(InvalidQueryError, match="YYYY-MM-DD"):
            sensor_analytics_frame(events, 7, "01/05/2024", "2024-01-10")

    def test_bad_status_rejected(self, events):
        with pytest.raises(InvalidQueryError, match="status"):
            sensors_latest_frame(events, status="exploded")

    def test_nonpositive_limit_rejected(self, events):
        with pytest.raises(InvalidQueryError, match="limit"):
            sensors_latest_frame(events, limit=0)


class TestEndpoints:
    def test_unknown_sensor_raises_not_found(self, spark, sf_dir):
        api = ServingLayer(spark, sf_dir, clock=FakeClock())
        with pytest.raises(SensorNotFoundError, match="999999"):
            api.analytics(999999, "2024-01-01", "2024-01-30")

    def test_sensors_filters_and_limit_match_pandas(self, spark, sf_dir):
        pdf = pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
        latest = (
            pdf.sort_values(["user_id", "ts", "event_id"])
            .groupby("user_id", as_index=False)
            .last()
        )
        api = ServingLayer(spark, sf_dir, clock=FakeClock())
        rows = api.sensors()
        assert len(rows) == latest["user_id"].nunique()
        by_id = {r["user_id"]: r for r in rows}
        for rec in latest.itertuples():
            got = by_id[rec.user_id]
            assert got["last_event_id"] == rec.event_id
            assert got["last_value"] == rec.value
            assert got["location"] == rec.event_type
        # status filter returns exactly the sensors whose LATEST value is in
        # the band, and limit paginates deterministically by user_id.
        faulty = api.sensors(status="Faulty")
        expect_faulty = set(latest[latest.value > 90]["user_id"])
        assert {r["user_id"] for r in faulty} == expect_faulty
        page = api.sensors(limit=5)
        assert [r["user_id"] for r in page] == sorted(by_id)[:5]

    def test_analytics_buckets_match_pandas(self, spark, sf_dir):
        api = ServingLayer(spark, sf_dir, clock=FakeClock())
        rows = api.analytics(7, "2024-01-05", "2024-01-25", "hourly")
        pdf = pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
        m = pdf[
            (pdf.user_id == 7)
            & (pdf.ts >= "2024-01-05")
            & (pdf.ts < "2024-01-26")
        ]
        expect = m.groupby(m.ts.dt.floor("h"))["value"].agg(
            ["count", "max", "min"]
        )
        assert len(rows) == len(expect)
        for r in rows:
            e = expect.loc[r["bucket"]]
            assert r["n_readings"] == e["count"]
            assert r["max_value"] == e["max"]
            assert r["min_value"] == e["min"]

    def test_health_shape_and_freshness(self, spark, sf_dir):
        api = ServingLayer(spark, sf_dir, clock=FakeClock())
        h = api.health("2024-01-31 00:00:00")
        pdf = pq.read_table(f"{sf_dir}/events.parquet").to_pandas()
        assert h["latest_ts"] == pdf.ts.max().to_pydatetime()
        assert h["freshness_sec"] >= 0
        assert h["status"] in ("ok", "stale")
        in24 = pdf[(pdf.ts >= "2024-01-30") & (pdf.ts < "2024-01-31")]
        assert h["n_recent_24h"] == len(in24)
        assert h["n_faulty_24h"] == (in24.value > 90).sum()


class TestLiveSinkDashboard:
    """The reference dashboard reads the
    CONTINUOUSLY-UPSERTED aggregate table (docs/topic3_usage_guide.md:
    187-189), not a static frame.  Drive run_topology's keyed sink epoch
    by epoch and read it back through ServingLayer mid-stream: the API
    must see exactly the last-write-wins state after each epoch, with the
    /sensors TTL bounding staleness in between."""

    def test_dashboard_tracks_last_write_wins_state_per_epoch(
        self, spark, sf_dir, tmp_path
    ):
        from real_time_iot_data_engineering_pipeline_spark.streaming.topology import (
            run_topology,
        )

        from .test_streaming import ev, write_file

        valid = dict(event_type="click", props='{"k": 1}')
        src = tmp_path / "src"
        src.mkdir()
        out = str(tmp_path / "out")

        # epoch 1: two sensors, one 5-minute window each
        write_file(
            str(src),
            "f1.json",
            [
                dict(ev(1, "2024-01-19 10:00:10", user_id=1, value=10.0), **valid),
                dict(ev(2, "2024-01-19 10:01:00", user_id=2, value=20.0), **valid),
            ],
            seq=0,
        )
        res = run_topology(spark, str(src), out)
        clock = FakeClock()
        api = ServingLayer(
            spark, sf_dir, clock=clock, aggregates=res.aggregates.read
        )
        first = {r["user_id"]: r for r in api.dashboard()}
        assert set(first) == {1, 2}
        assert first[1]["avg_value"] == 10.0 and first[1]["n_readings"] == 1
        assert first[2]["avg_value"] == 20.0
        assert str(first[1]["window_start"]) == "2024-01-19 10:00:00"
        assert first[1]["sensor_status"] == "Working"

        # epoch 2: sensor 1 moves to a NEW window (argmax must advance);
        # sensor 2 gets a second event in the SAME window (the upsert must
        # replace the old row's aggregates in place).
        write_file(
            str(src),
            "f2.json",
            [
                dict(ev(3, "2024-01-19 10:07:00", user_id=1, value=30.0), **valid),
                dict(ev(4, "2024-01-19 10:01:30", user_id=2, value=40.0), **valid),
            ],
            seq=1,
        )
        run_topology(spark, str(src), out)  # checkpoint resume: only f2

        # inside the TTL the API serves the cached epoch-1 state
        assert {r["user_id"]: r for r in api.dashboard()} == first

        clock.t += SENSORS_TTL_SEC + 1
        second = {r["user_id"]: r for r in api.dashboard()}
        assert str(second[1]["window_start"]) == "2024-01-19 10:05:00"
        assert second[1]["avg_value"] == 30.0 and second[1]["n_readings"] == 1
        # sensor 2: same window key, merged aggregates — last write won
        assert str(second[2]["window_start"]) == "2024-01-19 10:00:00"
        assert second[2]["avg_value"] == 30.0  # (20 + 40) / 2
        assert second[2]["n_readings"] == 2

    def test_dashboard_without_source_is_invalid(self, spark, sf_dir):
        api = ServingLayer(spark, sf_dir, clock=FakeClock())
        with pytest.raises(InvalidQueryError, match="aggregates"):
            api.dashboard()


class TestCacheTTL:
    def test_sensors_cached_one_minute(self, spark, sf_dir):
        clock = FakeClock()
        api = ServingLayer(spark, sf_dir, clock=clock)
        api.sensors(limit=3)
        api.sensors(limit=3)  # inside TTL -> served from cache
        assert api.cache_stats["sensors"] == (1, 1)
        clock.t += SENSORS_TTL_SEC + 1
        api.sensors(limit=3)  # expired -> recompute
        assert api.cache_stats["sensors"] == (1, 2)
        api.sensors(limit=4)  # different params -> distinct cache key
        assert api.cache_stats["sensors"] == (1, 3)

    def test_analytics_cached_five_minutes(self, spark, sf_dir):
        clock = FakeClock()
        api = ServingLayer(spark, sf_dir, clock=clock)
        a1 = api.analytics(7, "2024-01-05", "2024-01-25")
        clock.t += ANALYTICS_TTL_SEC - 1
        a2 = api.analytics(7, "2024-01-05", "2024-01-25")
        assert a1 is a2  # same cached object inside the TTL
        assert api.cache_stats["analytics"] == (1, 1)
        clock.t += 2
        api.analytics(7, "2024-01-05", "2024-01-25")
        assert api.cache_stats["analytics"] == (1, 2)
