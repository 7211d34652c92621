"""Golden micro-batch tests for the Structured Streaming runtime.

Streaming-only semantics (late-data drops, update-mode emission, checkpoint
restart, replay idempotence, dedup-within-watermark) are not DuckDB-checkable
(SURVEY.md §5) — these tests pin them against hand-computed expectations.
Files are written with strictly increasing mtimes and maxFilesPerTrigger=1,
so one file == one micro-batch and watermark progression is deterministic.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from real_time_iot_data_engineering_pipeline_spark.sinks import KeyedParquetSink
from real_time_iot_data_engineering_pipeline_spark.sources.kafka import (
    kafka_sink_options,
    kafka_source_options,
    to_kafka_sink_frame,
)
from real_time_iot_data_engineering_pipeline_spark.streaming import (
    MetricsListener,
    dedup_stream,
    parse_event_stream,
    read_event_file_stream,
    windowed_aggregate,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.topology import run_topology

BASE_MTIME = 1_700_000_000


def ev(event_id: int, ts: str, user_id: int = 1, value: float = 1.0) -> dict:
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": "reading",
        "value": value,
        "props": "{}",
    }


def write_file(src_dir: str, name: str, rows: list[dict], seq: int) -> None:
    path = os.path.join(src_dir, name)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (BASE_MTIME + seq * 60, BASE_MTIME + seq * 60))


def sink_rows(sink: KeyedParquetSink) -> dict[str, tuple]:
    rows = (
        sink.read()
        .select("user_id", "window_start", "sum_value", "count")
        .collect()
    )
    return {
        f"{r.user_id}@{r.window_start.isoformat()}": (r.sum_value, r["count"])
        for r in rows
    }


class TestWindowedPipeline:
    def test_late_beyond_watermark_dropped_and_update_reemitted(self, spark, tmp_path):
        """Batch 0's max event time (10:10) minus the 1-minute delay puts the
        watermark at 10:09.  Spark applies the watermark to LATE-EVENT
        filtering one batch after it starts evicting state (the
        late-events/eviction watermark split, SPARK-24634), so the
        beyond-watermark record is injected two batches later: its window
        (10:00-10:05, end <= watermark) must contribute nothing, while the
        same batch's fresh record updates the open 10:10-10:15 window
        (re-emitted in update mode with the new count)."""
        src = tmp_path / "src"
        src.mkdir()
        write_file(
            str(src),
            "f1.json",
            [
                ev(1, "2024-01-15 10:00:00", value=1.0),
                ev(2, "2024-01-15 10:01:00", value=3.0),
                ev(3, "2024-01-15 10:10:00", value=5.0),
            ],
            seq=0,
        )
        write_file(
            str(src),
            "f2.json",
            [ev(4, "2024-01-15 10:11:00", value=7.0)],  # in-watermark update
            seq=1,
        )
        write_file(
            str(src),
            "f3.json",
            [
                ev(5, "2024-01-15 10:02:00", value=100.0),  # late beyond wm
                ev(6, "2024-01-15 10:12:00", value=11.0),  # in-watermark update
            ],
            seq=2,
        )

        emitted: list[tuple[int, dict[str, tuple]]] = []
        sink = KeyedParquetSink(
            spark, str(tmp_path / "sink"), ["user_id", "window_start"]
        )

        def record_and_upsert(batch_df, epoch_id):
            rows = batch_df.select("user_id", "window_start", "sum_value", "count").collect()
            emitted.append(
                (
                    int(epoch_id),
                    {
                        f"{r.user_id}@{r.window_start.isoformat()}": (
                            r.sum_value,
                            r["count"],
                        )
                        for r in rows
                    },
                )
            )
            sink.upsert(batch_df, epoch_id)

        agg = windowed_aggregate(
            parse_event_stream(read_event_file_stream(spark, str(src)))
        )
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(record_and_upsert)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        batches = dict(emitted)
        # batch 0: both windows emitted
        assert batches[0] == {
            "1@2024-01-15T10:00:00": (4.0, 2),
            "1@2024-01-15T10:10:00": (5.0, 1),
        }
        # batch 1: update mode re-emits ONLY the changed open window
        assert batches[1] == {"1@2024-01-15T10:10:00": (12.0, 2)}
        # batch 2: the late record contributed nothing (its window is not
        # re-emitted); only the open window updates again
        assert batches[2] == {"1@2024-01-15T10:10:00": (23.0, 3)}
        # final table: late row absent, update-mode rows upserted not appended
        assert sink_rows(sink) == {
            "1@2024-01-15T10:00:00": (4.0, 2),
            "1@2024-01-15T10:10:00": (23.0, 3),
        }

    def test_checkpoint_restart_processes_only_new_data(self, spark, tmp_path):
        src = tmp_path / "src"
        src.mkdir()
        valid_kwargs = dict(props='{"k": 1}')
        write_file(
            str(src),
            "f1.json",
            [
                dict(ev(1, "2024-01-15 10:10:00", value=5.0), **valid_kwargs),
                dict(ev(2, "2024-01-15 10:11:00", value=7.0), **valid_kwargs),
            ],
            seq=0,
        )
        out = str(tmp_path / "out")  # the sink and its checkpoints
        sink = run_topology(spark, str(src), out).aggregates
        assert sink_rows(sink) == {"1@2024-01-15T10:10:00": (12.0, 2)}

        # restart with no new data: table unchanged
        sink = run_topology(spark, str(src), out).aggregates
        assert sink_rows(sink) == {"1@2024-01-15T10:10:00": (12.0, 2)}

        # add one file; restart processes ONLY it, resuming window state
        write_file(
            str(src),
            "f2.json",
            [dict(ev(3, "2024-01-15 10:12:00", value=9.0), **valid_kwargs)],
            seq=1,
        )
        sink = run_topology(spark, str(src), out).aggregates
        assert sink_rows(sink) == {"1@2024-01-15T10:10:00": (21.0, 3)}

    def test_sink_crash_window_leaves_previous_table_intact(self, spark, tmp_path):
        """The commit point is one atomic pointer replace: a writer dying
        after materializing a new version but BEFORE committing (orphan
        version dir + stale tmp pointer) must not affect readers, and the
        next successful upsert garbage-collects the debris."""
        import os

        sink = KeyedParquetSink(spark, str(tmp_path / "s"), ["k"])
        sink.upsert(spark.createDataFrame([(1, 10.0)], "k int, v double"), 1)
        # simulate a crash mid-upsert: orphan version + uncommitted pointer
        orphan = os.path.join(sink.root, "v99-dead-beef")
        os.makedirs(orphan)
        with open(sink._pointer + ".tmp", "w") as f:
            f.write("v99-dead-beef")
        assert sorted(sink.read().collect()) == [(1, 10.0)]  # unaffected
        sink.upsert(spark.createDataFrame([(2, 20.0)], "k int, v double"), 2)
        assert sorted(sink.read().collect()) == [(1, 10.0), (2, 20.0)]
        assert not os.path.isdir(orphan)  # debris collected

    def test_sink_gc_keeps_previous_version_one_upsert(self, spark, tmp_path):
        """GC lag of 1: after a commit, the version the pointer
        previously referenced must survive one more upsert so a reader that
        resolved the old pointer can finish its lazy scan; versions two
        commits old are collected."""
        import os

        sink = KeyedParquetSink(spark, str(tmp_path / "s"), ["k"])

        def versions() -> set:
            return {
                e for e in os.listdir(sink.root)
                if e.startswith("v") and os.path.isdir(os.path.join(sink.root, e))
            }

        sink.upsert(spark.createDataFrame([(1, 10.0)], "k int, v double"), 1)
        v1 = versions()
        assert len(v1) == 1
        sink.upsert(spark.createDataFrame([(2, 20.0)], "k int, v double"), 2)
        v2 = versions()
        assert v1 < v2 and len(v2) == 2  # previous version retained
        sink.upsert(spark.createDataFrame([(3, 30.0)], "k int, v double"), 3)
        v3 = versions()
        assert len(v3) == 2 and not (v1 & v3)  # two-commits-old collected

    def test_sink_replay_is_idempotent(self, spark, tmp_path):
        sink = KeyedParquetSink(spark, str(tmp_path / "s"), ["k"])
        batch = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
        sink.upsert(batch, 7)
        once = sorted(sink.read().collect())
        sink.upsert(batch, 7)  # Structured Streaming replays the same epoch
        twice = sorted(sink.read().collect())
        assert once == twice == [(1, 10.0), (2, 20.0)]
        # a later epoch overwrites keyed rows (last write wins)
        sink.upsert(spark.createDataFrame([(2, 99.0)], "k int, v double"), 8)
        assert sorted(sink.read().collect()) == [(1, 10.0), (2, 99.0)]


class TestBeyondReferenceWindows:
    def _run(self, spark, tmp_path, agg_df):
        emitted = []

        def fb(batch_df, epoch_id):
            emitted.extend(batch_df.collect())

        q = (
            agg_df.writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(fb)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    def test_sliding_windows_assign_each_event_twice(self, spark, tmp_path):
        from pyspark.sql import functions as F

        src = tmp_path / "src"
        src.mkdir()
        write_file(
            str(src),
            "f1.json",
            [
                ev(1, "2024-01-15 10:02:00", value=1.0),
                ev(2, "2024-01-15 10:07:00", value=2.0),
            ],
            seq=0,
        )
        events = parse_event_stream(read_event_file_stream(spark, str(src)))
        agg = (
            events.withWatermark("ts", "1 minute")
            .groupBy("user_id", F.window("ts", "10 minutes", "5 minutes").alias("w"))
            .agg(F.sum("value").alias("s"), F.count("*").alias("n"))
            .select("user_id", F.col("w.start").alias("ws"), "s", "n")
        )
        got = {str(r.ws): (r.s, r.n) for r in self._run(spark, tmp_path, agg)}
        assert got == {
            "2024-01-15 09:55:00": (1.0, 1),
            "2024-01-15 10:00:00": (3.0, 2),
            "2024-01-15 10:05:00": (2.0, 1),
        }

    def test_session_windows_split_on_gap_and_emit_on_finalize(self, spark, tmp_path):
        """Session windows only support APPEND mode in streaming: a session
        is emitted once the watermark passes its end (it can no longer
        merge).  The 12-minute gap splits sessions; the second session stays
        open (never emitted) when the stream drains."""
        from pyspark.sql import functions as F

        src = tmp_path / "src"
        src.mkdir()
        write_file(
            str(src),
            "f1.json",
            [
                ev(1, "2024-01-15 10:00:00", value=1.0),
                ev(2, "2024-01-15 10:03:00", value=2.0),  # gap 3m -> merges
            ],
            seq=0,
        )
        write_file(
            str(src),
            "f2.json",
            # advances the watermark to 10:14 > session-1 end (10:08)
            [ev(3, "2024-01-15 10:15:00", value=4.0)],
            seq=1,
        )
        events = parse_event_stream(read_event_file_stream(spark, str(src)))
        agg = (
            events.withWatermark("ts", "1 minute")
            .groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
            .agg(F.sum("value").alias("s"), F.count("*").alias("n"))
            .select(
                "user_id",
                F.col("w.start").alias("ss"),
                F.col("w.end").alias("se"),
                "s",
                "n",
            )
        )
        emitted = []

        def fb(batch_df, epoch_id):
            emitted.extend(batch_df.collect())

        q = (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(fb)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(str(r.ss), str(r.se)): (r.s, r.n) for r in emitted}
        # the merged first session finalized; the open one did not emit
        assert got == {("2024-01-15 10:00:00", "2024-01-15 10:08:00"): (3.0, 2)}


class TestStreamingDedup:
    def test_dup_within_watermark_dropped_beyond_not(self, spark, tmp_path):
        """(user_id, event_id) identity dedup: an in-batch dup and a
        within-watermark cross-batch dup are dropped; after the watermark
        expires the key's state, the same identity is emitted again
        (validation_consumer.py:353-409's 1-minute state expiry)."""
        src = tmp_path / "src"
        src.mkdir()
        write_file(
            str(src),
            "f1.json",
            [
                ev(1, "2024-01-15 10:00:00", value=1.0),
                ev(1, "2024-01-15 10:00:00", value=1.0),  # in-batch dup
                ev(2, "2024-01-15 10:00:30", value=2.0),
            ],
            seq=0,
        )
        write_file(
            str(src),
            "f2.json",
            [
                ev(1, "2024-01-15 10:00:20", value=1.5),  # dup within watermark
                ev(9, "2024-01-15 10:30:00", value=9.0),  # advances watermark
            ],
            seq=1,
        )
        write_file(
            str(src),
            "f3.json",
            # a further batch so the 10:29 watermark evicts event 1's state
            # (eviction runs at end-of-batch, after the dedup check)
            [ev(8, "2024-01-15 10:31:00", value=8.0)],
            seq=2,
        )
        write_file(
            str(src),
            "f4.json",
            # same identity, but its state expired (wm 10:29 > 10:00 + 1min)
            [ev(1, "2024-01-15 10:31:10", value=1.9)],
            seq=3,
        )
        out = dedup_stream(
            parse_event_stream(read_event_file_stream(spark, str(src)))
        )
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT event_id, value FROM dedup_out ORDER BY value"
        ).collect()
        assert [(r.event_id, r.value) for r in rows] == [
            (1, 1.0),  # first occurrence survives
            (1, 1.9),  # beyond-watermark re-arrival is NOT dropped
            (2, 2.0),
            (8, 8.0),
            (9, 9.0),
        ]


class TestListener:
    def test_listener_captures_batches_and_flags_slow(self, spark, tmp_path):
        src = tmp_path / "src"
        src.mkdir()
        valid_kwargs = dict(props='{"k": 1}')
        write_file(str(src), "f1.json", [dict(ev(1, "2024-01-15 10:00:00"), **valid_kwargs)], seq=0)
        write_file(str(src), "f2.json", [dict(ev(2, "2024-01-15 10:01:00"), **valid_kwargs)], seq=1)
        eager = MetricsListener(slow_batch_seconds=0.0)  # everything is "slow"
        lax = MetricsListener(slow_batch_seconds=1e9)  # nothing is
        spark.streams.addListener(eager)
        spark.streams.addListener(lax)
        try:
            result = run_topology(spark, str(src), str(tmp_path / "out"))
            # the listener bus delivers each query's progress events before
            # its termination event
            deadline = time.time() + 30
            while time.time() < deadline and len(eager.terminated) < len(result.queries):
                time.sleep(0.2)
        finally:
            spark.streams.removeListener(eager)
            spark.streams.removeListener(lax)
        assert len(eager.batches) >= 2
        assert eager.started and all(b.duration_seconds >= 0 for b in eager.batches)
        assert len(eager.slow_batches) == len(eager.batches)  # threshold 0
        assert lax.slow_batches == []  # same query, sane threshold
        # the DLQ query reports to the listeners too
        main = [b for b in eager.batches if b.query_name == "topology-main"]
        assert sum(b.num_input_rows for b in main) == 2


class TestStreamingDedupBucketKey:
    def test_dedup_on_sensor_and_5s_bucket(self, spark, tmp_path):
        """The validator's exact dedup key: (sensor, 5-second bucket) —
        validation_consumer.py:376-390.  Two distinct readings inside one
        bucket collapse to the first; the next bucket passes."""
        from pyspark.sql import functions as F

        src = tmp_path / "src"
        src.mkdir()
        write_file(
            str(src),
            "f1.json",
            [
                ev(1, "2024-01-15 10:00:01", value=1.0),
                ev(2, "2024-01-15 10:00:04", value=2.0),  # same bucket -> dup
                ev(3, "2024-01-15 10:00:05", value=3.0),  # next bucket
            ],
            seq=0,
        )
        events = parse_event_stream(read_event_file_stream(spark, str(src)))
        with_bucket = events.withColumn(
            "bucket", F.window("ts", "5 seconds").getField("start")
        )
        out = dedup_stream(with_bucket, keys=["user_id", "bucket"])
        q = (
            out.writeStream.format("memory")
            .queryName("bucket_dedup_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            r.event_id
            for r in spark.sql("SELECT event_id FROM bucket_dedup_out").collect()
        )
        assert got == [1, 3]


class TestCorruptInput:
    def test_malformed_json_lines_survive_with_raw_payload(self, spark, tmp_path):
        """Kafka delivers arbitrary bytes; the reference's validator
        quarantines undecodable messages WITH their raw payload
        (validation_consumer.py:481-490).  The reader captures the raw line
        in _corrupt_record, the parse stage keeps it alive for the DLQ
        branch, and well-formed rows with an unparseable ts or null key are
        still dropped at parse exactly as before."""
        src = tmp_path / "src"
        src.mkdir()
        path = src / "f1.json"
        with open(path, "w") as f:
            f.write('{"event_id": 1, "ts": "2024-01-15 10:00:00", "user_id": 1, '
                    '"event_type": "r", "value": 1.0, "props": "{}"}\n')
            f.write("this is not json at all\n")
            f.write('{"event_id": 2, "ts": "not-a-timestamp", "user_id": 1, '
                    '"event_type": "r", "value": 2.0, "props": "{}"}\n')
            f.write('{"event_id": 3, "ts": "2024-01-15 10:00:10", '
                    '"event_type": "r", "value": 3.0, "props": "{}"}\n')  # no user
        import os

        os.utime(path, (BASE_MTIME, BASE_MTIME))
        out = parse_event_stream(read_event_file_stream(spark, str(src)))
        q = (
            out.writeStream.format("memory")
            .queryName("corrupt_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT event_id, _corrupt_record FROM corrupt_out"
            " ORDER BY event_id NULLS LAST"
        ).collect()
        # valid row 1 + the malformed line (null columns, raw payload kept);
        # bad-ts and null-key rows are gone.
        assert [r.event_id for r in rows] == [1, None]
        assert rows[0]._corrupt_record is None
        assert rows[1]._corrupt_record == "this is not json at all"


class TestStateStoreAndTrigger:
    def test_rocksdb_state_store_is_active(self, spark, tmp_path):
        """session.py pins the RocksDB state store provider
        (streaming_job.py:175-176); the streaming agg's progress must show
        RocksDB-specific state metrics, proving the config took effect."""
        assert "RocksDBStateStoreProvider" in spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass"
        )
        src = tmp_path / "src"
        src.mkdir()
        write_file(str(src), "f1.json", [ev(1, "2024-01-15 10:00:00")], seq=0)
        agg = windowed_aggregate(
            parse_event_stream(read_event_file_stream(spark, str(src)))
        )
        q = (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        metrics = [
            p["stateOperators"][0].get("customMetrics", {})
            for p in (q.recentProgress or [])
            if p.get("stateOperators")
        ]
        assert any("rocksdb" in k for m in metrics for k in m), metrics

    def test_processing_time_trigger_runs_continuously(self, spark, tmp_path):
        """The reference's production mode: 10-second micro-batches
        (streaming_job.py:82,736).  Run with a short processing-time
        trigger, wait for the first batch to land in the sink, stop."""
        import time

        src = tmp_path / "src"
        src.mkdir()
        write_file(
            str(src),
            "f1.json",
            [dict(ev(1, "2024-01-15 10:10:00", value=5.0), props='{"k": 1}')],
            seq=0,
        )
        result = run_topology(
            spark, str(src), str(tmp_path / "out"), processing_time="1 seconds"
        )
        sink = result.aggregates
        try:
            deadline = time.time() + 60
            while time.time() < deadline and not sink.exists():
                time.sleep(0.5)
            assert sink.exists()
            assert sink_rows(sink) == {"1@2024-01-15T10:10:00": (5.0, 1)}
        finally:
            for q in result.queries:
                q.stop()


class TestKafkaWiring:
    def test_source_options_match_reference(self):
        opts = kafka_source_options()
        # streaming_job.py:205-230
        assert opts["subscribe"] == "raw_iot_data"
        assert opts["startingOffsets"] == "latest"
        assert opts["maxOffsetsPerTrigger"] == "10000"
        assert opts["failOnDataLoss"] == "false"

    def test_sink_options_and_wire_frame(self, spark):
        opts = kafka_sink_options()
        # producer.py:196-217
        assert opts["kafka.enable.idempotence"] == "true"
        assert opts["kafka.acks"] == "all"
        df = spark.createDataFrame([(7, "a")], "user_id int, event_type string")
        wire = to_kafka_sink_frame(df)
        assert wire.columns == ["key", "value"]
        row = wire.collect()[0]
        assert row.key == "7"
        assert json.loads(row.value) == {"user_id": 7, "event_type": "a"}
