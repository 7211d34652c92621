"""Tests for the topology's valid/DLQ routing, sink retry, and the
executor-side per-partition bulk writer."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from real_time_iot_data_engineering_pipeline_spark.sinks import (
    write_per_partition,
    with_retry,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.topology import run_topology

from .test_streaming import ev, write_file


class TestStreamingRouter:
    def test_valid_and_dlq_fanout(self, spark, tmp_path):
        """One validated stream, two outputs: clean rows land in valid/ with
        data_quality_flag='valid'; rule-breaking rows land in dlq/ with
        their failure reasons (validation_consumer.py:513-587).  NOW for the
        freshness rule is pinned to 2024-01-20 (queries/validation.py), so
        in-window rows must be near it."""
        src = tmp_path / "src"
        src.mkdir()
        good = dict(
            ev(1, "2024-01-19 10:00:00", value=5.0),
            props='{"k": 7}',
            event_type="click",
        )
        bad_range = dict(
            ev(2, "2024-01-19 10:00:01", value=500.0),  # value > 100
            props='{"k": 7}',
            event_type="click",
        )
        bad_many = dict(
            ev(3, "2023-06-01 00:00:00", value=None),  # stale + missing value
            props='{"nope": 1}',  # k missing -> bad_type
            event_type="CLICK!",  # bad format
        )
        write_file(str(src), "f1.json", [good, bad_range], seq=0)
        write_file(str(src), "f2.json", [bad_many], seq=1)

        result = run_topology(spark, str(src), str(tmp_path / "out"), with_valid=True)
        valid = result.read("valid").collect()
        dlq = {r.event_id: r for r in result.read_dlq().collect()}

        assert [r.event_id for r in valid] == [1]
        assert valid[0].data_quality_flag == "valid"
        assert set(dlq) == {2, 3}
        assert dlq[2].validation_failures == "out_of_range:value"
        assert dlq[3].data_quality_flag == "invalid"
        got3 = set(dlq[3].validation_failures.split(";"))
        assert {"missing:value", "bad_type:props.k", "bad_format:event_type",
                "stale_or_future:ts"} <= got3

    def test_router_replay_does_not_duplicate(self, spark, tmp_path):
        """Re-running with the same checkpoint must not duplicate outputs
        (per-epoch overwrite semantics)."""
        src = tmp_path / "src"
        src.mkdir()
        write_file(
            str(src),
            "f1.json",
            [dict(ev(1, "2024-01-19 10:00:00"), props='{"k": 1}', event_type="view")],
            seq=0,
        )
        out = str(tmp_path / "out")  # the outputs and their checkpoints
        result = run_topology(spark, str(src), out, with_valid=True)
        assert result.read("valid").count() == 1
        result = run_topology(spark, str(src), out, with_valid=True)  # no new files
        assert result.read("valid").count() == 1


class TestRetry:
    def test_retries_with_exponential_backoff_then_succeeds(self):
        calls, delays = [], []
        def flaky():
            calls.append(1)
            if len(calls) < 3:
                raise IOError("transient")
        attempts = with_retry(
            flaky, max_attempts=5, base_delay=2.0, sleep=delays.append
        )
        assert attempts == 3
        assert delays == [2.0, 4.0]  # base * 2^n, per streaming_job.py backoff

    def test_exhausted_attempts_reraise(self):
        def always_fails():
            raise IOError("permanent")
        with pytest.raises(IOError, match="permanent"):
            with_retry(always_fails, max_attempts=3, sleep=lambda _: None)

    def test_delay_capped(self):
        delays = []
        calls = []
        def flaky():
            calls.append(1)
            if len(calls) < 5:
                raise IOError("x")
        with_retry(flaky, max_attempts=5, base_delay=100.0, max_delay=300.0,
                   sleep=delays.append)
        assert delays == [100.0, 200.0, 300.0, 300.0]  # capped at 300s


class TestPartitionWriter:
    def test_all_rows_written_in_chunks_per_partition(self, spark, tmp_path):
        out = str(tmp_path / "bulk")
        df = spark.range(0, 2500).repartition(4).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        write_per_partition(df, out, batch_size=1000)
        rows = []
        files = glob.glob(os.path.join(out, "part-*.jsonl"))
        for path in files:
            with open(path) as f:
                rows += [json.loads(line) for line in f if line.strip()]
        assert len(files) == 4  # one "connection"/file per partition
        assert len(rows) == 2500
        assert {r["id"] for r in rows} == set(range(2500))
        assert all(r["v"] == r["id"] * 2 for r in rows)


class TestDlqReplay:
    def test_replay_recovers_now_valid_rows(self, spark, tmp_path):
        """A DLQ holds rows quarantined under OLD conditions: replay must
        re-drive them through the CURRENT rules — rows that now pass come
        back clean (quarantine metadata gone), the rest keep refreshed
        reasons.  Simulated by planting one genuinely-clean row in the
        DLQ (as an upstream repair / rule relaxation would leave it)
        beside one that still breaks the range rule."""
        from pyspark.sql import functions as F

        from real_time_iot_data_engineering_pipeline_spark.streaming.router import (
            replay_dlq,
        )

        dlq_dir = tmp_path / "dlq"
        rows = [
            dict(
                ev(1, "2024-01-19 10:00:00", value=5.0),
                props='{"k": 7}',
                event_type="click",
            ),  # passes today's rules -> recovered
            dict(
                ev(2, "2024-01-19 10:00:01", value=500.0),
                props='{"k": 7}',
                event_type="click",
            ),  # still out_of_range -> stays quarantined
        ]
        df = spark.createDataFrame(
            [
                dict(
                    r,
                    validation_failures="some_old_reason",
                    data_quality_flag="invalid",
                )
                for r in rows
            ]
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        df.write.parquet(str(dlq_dir / "epoch=0"))

        res = replay_dlq(spark, str(dlq_dir))
        rec = res.recovered.collect()
        assert [r.event_id for r in rec] == [1]
        assert "validation_failures" not in res.recovered.columns
        assert "data_quality_flag" not in res.recovered.columns
        still = res.still_failing.collect()
        assert [r.event_id for r in still] == [2]
        assert still[0].validation_failures == "out_of_range:value"
        assert still[0].data_quality_flag == "invalid"

    def test_replay_of_topology_dlq_keeps_the_dlq_row_contract(
        self, spark, tmp_path
    ):
        """Replaying a DLQ that run_topology wrote, under unchanged rules,
        recovers nothing and gives back every quarantined row as it was
        written: the out-of-range row keeps its reason, the non-JSON line
        keeps its raw payload and its leading malformed:json reason, and
        recovered rows carry no payload column."""
        from real_time_iot_data_engineering_pipeline_spark.streaming.pipeline import (
            CORRUPT_COL,
        )
        from real_time_iot_data_engineering_pipeline_spark.streaming.router import (
            replay_dlq,
        )
        from real_time_iot_data_engineering_pipeline_spark.streaming.topology import (
            run_topology,
        )

        src = tmp_path / "src"
        src.mkdir()
        kw = dict(props='{"k": 7}', event_type="click")
        write_file(
            str(src),
            "f1.json",
            [
                dict(ev(1, "2024-01-19 10:00:00", value=5.0), **kw),
                dict(ev(2, "2024-01-19 10:00:01", value=500.0), **kw),
            ],
            seq=0,
        )
        with open(src / "f1.json", "a") as f:
            f.write("%%% not json %%%\n")

        res = run_topology(spark, str(src), str(tmp_path / "out"))
        cols = ["event_id", "validation_failures", "raw_payload"]
        written = sorted(
            (tuple(r) for r in res.read_dlq().select(cols).collect()),
            key=lambda t: (t[0] is not None, t[0]),
        )
        assert [t[0] for t in written] == [None, 2]
        assert written[0][1].startswith("malformed:json;")
        assert written[0][2] == "%%% not json %%%"
        assert written[1][1] == "out_of_range:value"

        replay = replay_dlq(spark, res.dlq_dir)
        assert replay.recovered.count() == 0
        assert "raw_payload" not in replay.recovered.columns
        assert CORRUPT_COL not in replay.recovered.columns
        assert replay.still_failing.columns == res.read_dlq().columns
        again = sorted(
            (tuple(r) for r in replay.still_failing.select(cols).collect()),
            key=lambda t: (t[0] is not None, t[0]),
        )
        assert again == written


    def test_router_quarantines_malformed_with_payload(self, spark, tmp_path):
        """Beside the valid branch, the DLQ keeps a malformed line with the
        malformed:json + raw_payload contract, and the valid rows carry
        no raw_payload column."""
        import os as _os

        src = tmp_path / "src"
        src.mkdir()
        good = dict(
            ev(1, "2024-01-19 10:00:00", value=5.0),
            props='{"k": 7}',
            event_type="click",
        )
        write_file(str(src), "f1.json", [good], seq=0)
        path = src / "f2.json"
        with open(path, "w") as f:
            f.write("<<garbage>>\n")
        st = _os.stat(src / "f1.json")
        _os.utime(path, (st.st_mtime + 10, st.st_mtime + 10))

        result = run_topology(spark, str(src), str(tmp_path / "out"), with_valid=True)
        valid = result.read("valid").collect()
        assert [r.event_id for r in valid] == [1]
        assert "raw_payload" not in result.read("valid").columns
        bad = result.read_dlq().filter("raw_payload IS NOT NULL").collect()
        assert len(bad) == 1
        assert bad[0].raw_payload == "<<garbage>>"
        assert bad[0].validation_failures.startswith("malformed:json")
