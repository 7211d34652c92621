"""Semantic golden tests for the temporal family (as-of join, range join,
hypertable rollup) plus plan-shape pins.

Oracle parity for all three registered queries runs in
tests/test_oracle_parity.py; here we exercise the as-of operator's edge
semantics on a hand-built frame where the expected answer is computed by
eye — the cases a fixture-level hash can silently get right for the wrong
reason (carry-in across empty buckets, equal-timestamp inclusivity,
before-first-calibration NULLs, NULL-timestamp passthrough).
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.temporal import asof_join

from .test_plans import plan_of

registry.load_all()


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)
_CALIB_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("calib_ts", TimestampNTZType()),
        StructField("calib_value", DoubleType()),
    ]
)


class TestAsofSemantics:
    @pytest.fixture(scope="class")
    def result(self, spark):
        events = spark.createDataFrame(
            [
                # before any calibration -> NULL match
                (1, _ts("2024-01-01 00:10:00"), "a", 1.0),
                # exactly at a calibration timestamp -> inclusive match
                (2, _ts("2024-01-01 01:00:00"), "a", 2.0),
                # same bucket, after the calibration
                (3, _ts("2024-01-01 01:30:00"), "a", 3.0),
                # two empty hours later -> carry-in must skip empty buckets
                (4, _ts("2024-01-01 03:45:00"), "a", 4.0),
                # second calibration supersedes the first within its bucket
                (5, _ts("2024-01-01 04:30:00"), "a", 5.0),
                # other key never sees key "a" calibrations
                (6, _ts("2024-01-01 02:00:00"), "b", 6.0),
                # NULL timestamp survives with NULL match
                (7, None, "a", 7.0),
            ],
            schema=_EVENT_SCHEMA,
        )
        calib = spark.createDataFrame(
            [
                ("a", _ts("2024-01-01 01:00:00"), 10.0),
                ("a", _ts("2024-01-01 04:00:00"), 40.0),
                ("b", _ts("2024-01-01 02:30:00"), 20.0),  # after event 6
            ],
            schema=_CALIB_SCHEMA,
        )
        rows = asof_join(events, calib).collect()
        return {r["event_id"]: r for r in rows}

    def test_before_first_calibration_is_null(self, result):
        assert result[1]["calib_ts"] is None
        assert result[1]["calib_value"] is None

    def test_equal_timestamp_matches_inclusively(self, result):
        assert result[2]["calib_value"] == 10.0
        assert result[2]["calib_ts"] == _ts("2024-01-01 01:00:00")

    def test_within_bucket_match(self, result):
        assert result[3]["calib_value"] == 10.0

    def test_carry_in_skips_empty_buckets(self, result):
        """Event at 03:45 sits two empty hours past the 01:00 calibration;
        the carry-in chain must bridge buckets with no calibrations."""
        assert result[4]["calib_value"] == 10.0
        assert result[4]["calib_ts"] == _ts("2024-01-01 01:00:00")

    def test_newer_calibration_supersedes(self, result):
        assert result[5]["calib_value"] == 40.0

    def test_keys_are_isolated(self, result):
        """Key b's only calibration is AFTER its event — no cross-key leak
        from key a's earlier calibrations."""
        assert result[6]["calib_value"] is None

    def test_null_timestamp_survives_unmatched(self, result):
        assert result[7]["value"] == 7.0
        assert result[7]["calib_value"] is None

    def test_row_count_preserved(self, result):
        assert len(result) == 7


class TestTemporalPlans:
    def test_asof_windows_are_bucketed(self, spark, sf_dir):
        """The per-event window must partition by (key, bucket) — a window
        keyed by event_type alone is the 5-straggler plan at 100 TB.  The
        only key-alone window allowed is the carry-in over the metadata-
        scale bucket spine."""
        plan = plan_of(spark, sf_dir, "q_asof_join")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # main window partitions by both key and bucket
        assert any(
            "_bucket" in ln and "windowspecdefinition" in ln and "_is_calib" in ln
            for ln in plan.splitlines()
        ), "per-event as-of window is not (key, bucket)-partitioned"

    def test_range_join_is_broadcast_equi_with_residual(self, spark, sf_dir):
        """Interval join must be a broadcast HASH join on (key, bucket) with
        the range check as a residual — an inequality-only join plans as
        BroadcastNestedLoop, which is O(n x m) at scale."""
        plan = plan_of(spark, sf_dir, "q_range_join")
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_rollup_is_single_pass_expand(self, spark, sf_dir):
        """All four grouping sets must come from ONE scan via Expand with
        partial aggregation — not N separate jobs."""
        plan = plan_of(spark, sf_dir, "q_rollup_hypertable")
        assert "Expand" in plan
        assert "partial_count" in plan or "Partial" in plan
        # one scan of events, not four
        assert plan.count("FileScan parquet") == 1


class TestEwmaDaily:
    def test_matches_pandas_ewm_recursive(self, spark, sf_dir):
        """The closed-form window formulation must equal pandas'
        ewm(alpha=0.3, adjust=False) — the textbook recursive definition —
        on every (event_type, day) prefix."""
        import pandas as pd
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas()
        ev = ev.dropna(subset=["ts", "value"])
        ev["day"] = ev["ts"].dt.floor("D")
        daily = (
            ev.groupby(["event_type", "day"])["value"]
            .mean()
            .reset_index()
            .sort_values(["event_type", "day"])
        )
        daily["ewma"] = daily.groupby("event_type")["value"].transform(
            lambda s: s.ewm(alpha=0.3, adjust=False).mean()
        )
        rows = registry.QUERIES["q_ewma_daily"](spark, sf_dir).collect()
        assert len(rows) == len(daily)
        expect = {
            (r.event_type, r.day): r.ewma for r in daily.itertuples()
        }
        for r in rows:
            assert r["ewma"] == pytest.approx(
                expect[(r["event_type"], r["day"])], abs=2e-4
            )


class TestTrendAndAutocorr:
    def test_trend_matches_numpy_polyfit(self, spark, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas().dropna(subset=["ts", "value"])
        ev["x"] = (ev["ts"].dt.floor("D") - __import__("pandas").Timestamp("2024-01-01")).dt.days
        rows = {
            r["event_type"]: r
            for r in registry.QUERIES["q_trend_slope"](spark, sf_dir).collect()
        }
        for t, grp in ev.groupby("event_type"):
            daily = grp.groupby("x")["value"].mean()
            slope, intercept = np.polyfit(daily.index, daily.values, 1)
            r = rows[t]
            assert r["n_days"] == len(daily)
            assert r["slope"] == pytest.approx(slope, abs=2e-4)
            assert r["intercept"] == pytest.approx(intercept, abs=2e-2)
            pred = slope * daily.index.to_numpy() + intercept
            ss_res = ((daily.values - pred) ** 2).sum()
            ss_tot = ((daily.values - daily.values.mean()) ** 2).sum()
            assert r["r2"] == pytest.approx(1 - ss_res / ss_tot, abs=2e-4)
            assert r["trend"] == (
                "up" if r["slope"] > 0.05 else "down" if r["slope"] < -0.05 else "flat"
            )

    def test_autocorr_matches_numpy(self, spark, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas().dropna(subset=["ts", "value"])
        ev["day"] = ev["ts"].dt.floor("D")
        rows = {
            r["event_type"]: r
            for r in registry.QUERIES["q_autocorr"](spark, sf_dir).collect()
        }
        for t, grp in ev.groupby("event_type"):
            daily = grp.groupby("day")["value"].mean().sort_index().values
            y, y_prev = daily[1:], daily[:-1]
            r = rows[t]
            assert r["n_pairs"] == len(y)
            assert r["acf1"] == pytest.approx(
                float(np.corrcoef(y, y_prev)[0, 1]), abs=2e-4
            )


class TestCusum:
    def test_matches_numpy_recompute(self, spark, sf_dir):
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas().dropna(subset=["ts", "value"])
        ev["day"] = ev["ts"].dt.floor("D")
        split = pd.Timestamp("2024-01-16")
        ev["v"] = ev["value"].where(
            ~((ev["event_type"] == "error") & (ev["day"] >= split)),
            ev["value"] * 1.5,
        )
        rows = {
            r["event_type"]: r
            for r in registry.QUERIES["q_cusum"](spark, sf_dir).collect()
        }
        assert rows["error"]["changed"], "planted shift must be detected"
        for t, grp in ev.groupby("event_type"):
            daily = grp.groupby("day")["v"].mean().sort_index()
            cusum = np.cumsum(daily.values - daily.values.mean())
            i = int(np.argmax(np.round(np.abs(cusum), 6)))
            r = rows[t]
            assert r["max_excursion"] == pytest.approx(
                float(np.abs(cusum[i])), abs=2e-4
            )
            assert pd.Timestamp(r["changepoint_day"]) == daily.index[i]
            assert r["changed"] == (r["max_excursion"] > 120.0)
        if "error" in rows and sf_dir.endswith("0.01"):
            assert str(rows["error"]["changepoint_day"])[:10] == "2024-01-15"


class TestHourProfile:
    def test_matches_pandas_recompute_and_plan(self, spark, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas().dropna(subset=["ts", "value"])
        ev["hr"] = ev["ts"].dt.hour
        df = registry.QUERIES["q_hour_profile"](spark, sf_dir)
        rows = {(r["event_type"], r["hr"]): r for r in df.collect()}
        total_outliers = 0
        for (t, h), grp in ev.groupby(["event_type", "hr"]):
            v = grp["value"].to_numpy()
            r = rows[(t, int(h))]
            assert r["n"] == len(v)
            assert r["hour_mean"] == pytest.approx(v.mean(), abs=2e-4)
            assert r["hour_std"] == pytest.approx(v.std(ddof=1), abs=2e-4)
            expect_out = int((np.abs(v - v.mean()) / v.std(ddof=1) > 3.0).sum())
            assert r["n_outliers"] == expect_out
            total_outliers += expect_out
        assert total_outliers > 0, "residual outliers must occur"
        # join-back, not window; profile side broadcast
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "BroadcastHashJoin" in plan


class TestGapInterp:
    def test_matches_pandas_interpolation(self, spark, sf_dir):
        """Recompute per-user time-weighted linear interpolation with
        pandas and compare every masked reading; unmasked readings pass
        through untouched."""
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet",
            columns=["event_id", "user_id", "ts", "value"],
        ).to_pandas().dropna(subset=["ts"]).sort_values(
            ["user_id", "ts", "event_id"]
        )
        ev["reading"] = ev["value"].where(ev["event_id"] % 7 != 0)
        rows = {
            r["event_id"]: r
            for r in registry.QUERIES["q_gap_interp"](spark, sf_dir).collect()
        }
        assert len(rows) == len(ev)
        n_interp = 0
        for _, grp in ev.groupby("user_id"):
            t = grp["ts"].astype("int64").to_numpy() / 1e6
            v = grp["reading"].to_numpy()
            ids = grp["event_id"].to_numpy()
            obs = ~np.isnan(v)
            for i in range(len(v)):
                r = rows[int(ids[i])]
                if obs[i]:
                    assert not r["was_missing"]
                    assert r["value_interp"] == pytest.approx(v[i], abs=2e-4)
                    continue
                assert r["was_missing"]
                prev = np.nonzero(obs[: i + 1])[0]
                nxt = i + np.nonzero(obs[i:])[0]
                if len(prev) == 0 and len(nxt) == 0:
                    continue
                if len(prev) == 0:
                    expect = v[nxt[0]]
                elif len(nxt) == 0:
                    expect = v[prev[-1]]
                else:
                    p, n = prev[-1], nxt[0]
                    expect = v[p] + (v[n] - v[p]) * (t[i] - t[p]) / (
                        t[n] - t[p]
                    )
                assert r["value_interp"] == pytest.approx(expect, abs=2e-4)
                n_interp += 1
        assert n_interp > 0


class TestRollingCorr:
    def test_matches_pandas_rolling(self, spark, sf_dir):
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas().dropna(subset=["ts", "value"])
        ev["day"] = ev["ts"].dt.floor("D")
        daily = ev.pivot_table(
            index="day", columns="event_type", values="value", aggfunc="mean"
        )
        roll = daily["purchase"].rolling(7, min_periods=2).corr(daily["click"])
        rows = registry.QUERIES["q_rolling_corr"](spark, sf_dir).collect()
        assert len(rows) == len(daily)
        for r in rows:
            expect = roll.loc[r["day"]]
            if r["n_days"] < 2:
                assert r["roll_corr"] is None
            else:
                assert r["roll_corr"] == pytest.approx(expect, abs=2e-4)


class TestOpenOrders:
    def test_matches_python_sweep(self, spark, sf_dir):
        """Pure-Python sweep-line recompute: per-day open count must
        match, every interval must be counted open on BOTH its endpoints
        (inclusive close), and the final running count must return to
        zero."""
        from collections import Counter

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        od = pq.read_table(
            f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
        ).to_pydict()
        li = pq.read_table(
            f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_shipdate"]
        ).to_pydict()
        ends = {}
        for k, d in zip(li["l_orderkey"], li["l_shipdate"]):
            if k not in ends or d > ends[k]:
                ends[k] = d
        import datetime as dt

        deltas = Counter()
        opened = Counter()
        closed = Counter()
        for k, s in zip(od["o_orderkey"], od["o_orderdate"]):
            if k not in ends:
                continue
            e = ends[k] + dt.timedelta(days=1)
            deltas[s] += 1
            deltas[e] -= 1
            opened[s] += 1
            closed[e] += 1
        rows = registry.QUERIES["q_open_orders"](spark, sf_dir).collect()
        assert len(rows) == len(deltas)
        run = 0
        for r in sorted(rows, key=lambda r: r["day"]):
            d = r["day"]
            run += deltas[d]
            assert r["n_opened"] == opened[d]
            assert r["n_closed"] == closed[d]
            assert r["open_count"] == run
        assert run == 0, "every interval must eventually close"


class TestSeasonalDecompose:
    def test_matches_pandas_classical_decomposition(self, spark, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas().dropna(subset=["ts", "value"])
        ev["day"] = ev["ts"].dt.floor("D")
        rows = {
            (r["event_type"], r["day"]): r
            for r in registry.QUERIES["q_seasonal_decompose"](
                spark, sf_dir
            ).collect()
        }
        n_checked = 0
        for t, grp in ev.groupby("event_type"):
            daily = grp.groupby("day")["value"].mean().sort_index()
            trend = daily.rolling(7, center=True, min_periods=7).mean()
            detr = daily - trend
            wd = daily.index.dayofweek.map(lambda d: (d + 1) % 7)  # 0=Sunday
            s0 = detr.groupby(wd.values).mean()
            seasonal = s0 - s0.mean()
            for day, y in daily.items():
                r = rows[(t, day)]
                assert r["daily_avg"] == pytest.approx(y, abs=2e-4)
                tv = trend.loc[day]
                if np.isnan(tv):
                    assert r["trend"] is None and r["residual"] is None
                else:
                    sv = seasonal[(day.dayofweek + 1) % 7]
                    assert r["trend"] == pytest.approx(tv, abs=2e-4)
                    assert r["seasonal"] == pytest.approx(sv, abs=2e-4)
                    assert r["residual"] == pytest.approx(
                        y - tv - sv, abs=4e-4
                    )
                    n_checked += 1
        assert n_checked > 0


class TestRunsTest:
    def test_matches_python_recompute(self, spark, sf_dir):
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["ts", "event_type", "value"]
        ).to_pandas().dropna(subset=["ts", "value"])
        ev["day"] = ev["ts"].dt.floor("D")
        rows = {
            r["event_type"]: r
            for r in registry.QUERIES["q_runs_test"](spark, sf_dir).collect()
        }
        for t, grp in ev.groupby("event_type"):
            daily = grp.groupby("day")["value"].mean().sort_index()
            signs = [1 if y >= daily.mean() else 0 for y in daily]
            runs = 1 + sum(a != b for a, b in zip(signs, signs[1:]))
            n1, n2 = sum(signs), len(signs) - sum(signs)
            n = n1 + n2
            mu = 2 * n1 * n2 / n + 1
            sig = (
                2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
            ) ** 0.5
            z = (runs - mu) / sig
            r = rows[t]
            assert r["n_runs"] == runs
            assert r["n_above"] == n1 and r["n_below"] == n2
            assert r["expected_runs"] == pytest.approx(mu, abs=1e-3)
            assert r["z_stat"] == pytest.approx(z, abs=1e-3)
            assert r["random_ok"] == (abs(round(z, 6)) <= 1.96)


class TestRollingMedianDeadSensor:
    """A dead-sensor stretch — days whose every reading has value NULL —
    must yield NULL rolling medians, not INVALID_INDEX_OF_ZERO: collect_list
    drops NULLs, so the 7-day frame array can be EMPTY and the unguarded
    (size+1) div 2 index is 0 (a reproduced crash).  Parity is
    asserted against the registered DuckDB oracle, whose framed median
    returns NULL for the same rows."""

    _ROWS = [
        # (event_id, ts, user_id, event_type, value)
        # user 1: alive day 1, DEAD days 2-3 (frames still hold day-1 d_avg),
        # then a 10-day gap so day 14's frame is ENTIRELY the dead day 13.
        (1, "2024-05-01 10:00:00", 1, "click", 10.0),
        (2, "2024-05-02 10:00:00", 1, "click", None),
        (3, "2024-05-03 10:00:00", 1, "click", None),
        (4, "2024-05-13 10:00:00", 1, "click", None),  # isolated dead day
        # user 2: NEVER emits a value — every frame in the series is empty.
        (5, "2024-05-01 09:00:00", 2, "tap", None),
        (6, "2024-05-02 09:00:00", 2, "tap", None),
        (7, "2024-05-04 09:00:00", 2, "tap", None),
        # user 3: dead day BETWEEN live days (frame spans the gap).
        (8, "2024-05-01 08:00:00", 3, "tap", 4.0),
        (9, "2024-05-02 08:00:00", 3, "tap", None),
        (10, "2024-05-03 08:00:00", 3, "tap", 8.0),
    ]

    @pytest.fixture(scope="class")
    def dead_sf(self, tmp_path_factory) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path_factory.mktemp("dead_sensor")
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in self._ROWS], type=pa.int64()),
                    "ts": pa.array(
                        [dt.datetime.fromisoformat(r[1]) for r in self._ROWS],
                        type=pa.timestamp("us"),
                    ),
                    "user_id": pa.array([r[2] for r in self._ROWS], type=pa.int64()),
                    "event_type": pa.array([r[3] for r in self._ROWS], type=pa.string()),
                    "value": pa.array([r[4] for r in self._ROWS], type=pa.float64()),
                    "props": pa.array(['{"k":1}'] * len(self._ROWS), type=pa.string()),
                }
            ),
            f"{path}/events.parquet",
        )
        return str(path)

    @pytest.mark.parametrize("name", ["q_rolling_median", "q_rolling_7d"])
    def test_dead_sensor_parity(self, spark, dead_sf, name):
        import duckdb

        from .oracle_utils import compare

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM '{dead_sf}/events.parquet'"
            )
            sdf = registry.QUERIES[name](spark, dead_sf).toPandas()
            ddf = con.execute(registry.ORACLES[name]).fetchdf()
        finally:
            con.close()
        problems = compare(sdf, ddf)
        assert not problems, f"{name}: " + " | ".join(problems)

    def test_dead_frames_are_null_not_crash(self, spark, dead_sf):
        rows = registry.QUERIES["q_rolling_median"](spark, dead_sf).collect()
        by_key = {(r.user_id, str(r.day)[:10]): r.rolling_7d_median for r in rows}
        # user 2's every frame and user 1's isolated dead day: NULL median.
        assert by_key[(2, "2024-05-01")] is None
        assert by_key[(2, "2024-05-02")] is None
        assert by_key[(2, "2024-05-04")] is None
        assert by_key[(1, "2024-05-13")] is None
        # user 1 days 2-3 still see day 1's live d_avg through the frame.
        assert by_key[(1, "2024-05-02")] == 10.0
        assert by_key[(1, "2024-05-03")] == 10.0
        # user 3's dead middle day medians the two live neighbours' window
        # state: frame on day 2 holds only day 1 (4.0).
        assert by_key[(3, "2024-05-02")] == 4.0
        assert by_key[(3, "2024-05-03")] == 6.0
