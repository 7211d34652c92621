"""Hand-computed golden rows — a third opinion independent of BOTH engines.

The oracle gate compares Spark against DuckDB; if query and oracle shared a
misreading of the reference, both would agree and the driver would pass
(the risk of oracles written by the same hand as the queries).  These tests pin the trickiest
semantics — window alignment, first-wins/last-wins tie-breaks, tolerant
coercion, minhash banding — against literal inputs and expectations computed
by hand from the reference's documented behavior.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


class TestWindowAlignment:
    def test_five_minute_windows_are_epoch_aligned(self, spark):
        """Spark's window() aligns tumbling windows to the epoch origin
        (streaming_job.py:306 relies on this): 10:04:59 belongs to
        [10:00, 10:05), 10:05:00 starts the next window — no half-open
        ambiguity, no session-dependent origin."""
        rows = [
            (1, ts("2024-01-15T10:00:00"), 1.0),
            (2, ts("2024-01-15T10:04:59"), 2.0),
            (3, ts("2024-01-15T10:05:00"), 4.0),
            (4, ts("2024-01-15T10:09:59.999999"), 8.0),
        ]
        df = spark.createDataFrame(rows, "id long, ts timestamp_ntz, v double")
        out = {
            (str(r.start), str(r.end)): (r.s, r.n)
            for r in df.groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .select("w.start", "w.end", "s", "n")
            .collect()
        }
        assert out == {
            ("2024-01-15 10:00:00", "2024-01-15 10:05:00"): (3.0, 2),
            ("2024-01-15 10:05:00", "2024-01-15 10:10:00"): (12.0, 2),
        }

    def test_rolling_7d_range_frame_handles_gaps(self, spark):
        """A RANGE frame over epoch-days must bound the lookback to 7
        CALENDAR days: with days 1,2,10 the day-10 average includes only
        itself (ROWS 6 PRECEDING would wrongly include days 1-2)."""
        from pyspark.sql import Window

        rows = [
            (1, dt.date(2024, 1, 1), 10.0),
            (1, dt.date(2024, 1, 2), 20.0),
            (1, dt.date(2024, 1, 10), 40.0),
        ]
        df = spark.createDataFrame(rows, "uid long, day date, v double")
        w = (
            Window.partitionBy("uid")
            .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
            .rangeBetween(-6, 0)
        )
        out = {
            str(r.day): r.avg
            for r in df.select("day", F.avg("v").over(w).alias("avg")).collect()
        }
        assert out == {"2024-01-01": 10.0, "2024-01-02": 15.0, "2024-01-10": 40.0}


class TestDedupTieBreaks:
    def test_dedup_window_first_wins_within_5s_bucket(self, spark):
        """validation_consumer.py:353-409: the FIRST record of a
        (key, 5-second bucket) survives; ties on timestamp break by id.
        10:00:04.9 and 10:00:00 share bucket [10:00:00,10:00:05);
        10:00:05 starts a new bucket."""
        rows = [
            (5, 1, ts("2024-01-15T10:00:04.900000"), 9.0),
            (2, 1, ts("2024-01-15T10:00:00"), 1.0),  # earliest -> survives
            (9, 1, ts("2024-01-15T10:00:00"), 2.0),  # same ts, larger id
            (7, 1, ts("2024-01-15T10:00:05"), 3.0),  # next bucket
        ]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz, value double")
        from pyspark.sql import Window

        bucket = F.window("ts", "5 seconds").getField("start")
        w = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
        got = sorted(
            r.event_id
            for r in df.select("event_id", "user_id", "ts", bucket.alias("bucket"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        )
        assert got == [2, 7]

    def test_upsert_last_write_wins_tie_break(self, spark):
        """mongo_to_postgres_sync.py:378-399 ON CONFLICT DO UPDATE: the
        LATEST row per (key, window) wins; equal timestamps break by the
        larger event_id (deterministic replay order)."""
        rows = [
            (1, 1, ts("2024-01-15T10:01:00"), 10.0),
            (2, 1, ts("2024-01-15T10:04:00"), 20.0),  # same window, later
            (3, 1, ts("2024-01-15T10:04:00"), 30.0),  # same ts, higher id wins
        ]
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz, value double")
        from pyspark.sql import Window

        bucket = F.window("ts", "5 minutes").getField("start")
        w = Window.partitionBy("user_id", "window_start").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        got = (
            df.select("user_id", bucket.alias("window_start"), "event_id", "value", "ts")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        )
        assert len(got) == 1 and got[0].event_id == 3 and got[0].value == 30.0


class TestValidationCoercion:
    def test_tolerant_coercion_matches_reference_table(self, spark):
        """validation_consumer.py:182-191,230-234: numeric strings coerce,
        null-like strings count as missing, garbage is a type failure, and
        out-of-range only fires on successfully coerced values."""
        from real_time_iot_data_engineering_pipeline_spark.functions.validation import (
            in_range,
            is_null_or_null_string,
            numeric_coercible,
        )

        rows = [
            ("12.3", True, False, True),  # numeric string: coercible, in range
            ("999.9", True, False, False),  # coercible, out of range
            ("N/A", False, True, True),  # null-like: missing, range skipped
            ("glorp", False, False, True),  # garbage: bad type, range skipped
            (None, False, True, True),  # SQL null: missing
        ]
        df = spark.createDataFrame(
            [(v,) for v, *_ in rows], "temperature string"
        ).select(
            "temperature",
            numeric_coercible(F.col("temperature")).alias("coercible"),
            is_null_or_null_string(F.col("temperature")).alias("missing"),
            in_range(F.col("temperature"), "temperature").alias("range_ok"),
        )
        got = {r.temperature: (r.coercible, r.missing, r.range_ok) for r in df.collect()}
        for value, coercible, missing, range_ok in rows:
            assert got[value] == (coercible, missing, range_ok), value


class TestIotRuleFidelity:
    def test_each_dirt_class_maps_to_reference_verdict(self, spark):
        """Hand-computed expectations per injected issue class, straight
        from validation_consumer.py semantics: types flag ANY non-null
        non-coercible value (incl. 'N/A' — float('N/A') raises, :182-191);
        ranges skip nulls/null-strings/non-coercibles (:230-234); format
        matches after trim (:262-267); freshness is <=5 min vs pinned now."""
        from pyspark.sql import functions as F

        from real_time_iot_data_engineering_pipeline_spark.functions.validation import (
            failure_reasons,
        )
        from real_time_iot_data_engineering_pipeline_spark.queries.iot import (
            NOW,
            _iot_rules,
        )

        ok = dict(
            sensor_id="SENSOR_DEL_007",
            temperature="21",
            humidity="55",
            energy_consumption="3",
            signal_strength="-70",
            battery_level="80",
            timestamp="2024-01-30T23:58:00",  # 2 min before NOW
        )
        cases = [
            (ok, ""),
            ({**ok, "temperature": "999.9"}, "out_of_range:temperature"),
            ({**ok, "temperature": "not_a_number"}, "bad_type:temperature"),
            ({**ok, "humidity": "N/A"}, "bad_type:humidity"),
            ({**ok, "temperature": None},
             "missing:temperature"),
            ({**ok, "sensor_id": "sensor_del_007"}, "bad_format:sensor_id"),
            ({**ok, "sensor_id": "  SENSOR_DEL_007 "}, ""),  # trim-then-pass
            ({**ok, "signal_strength": "25"}, "out_of_range:signal_strength"),
            ({**ok, "timestamp": "2024-01-31T01:00:00"},
             "stale_or_future:timestamp"),  # future vs pinned NOW
            ({**ok, "timestamp": "2024-01-30T23:50:00"},
             "stale_or_future:timestamp"),  # older than 5 minutes
            ({**ok, "timestamp": "31/01/2024 00:00:00"}, "bad_type:timestamp"),
            ({**ok, "timestamp": None}, "missing:timestamp"),
        ]
        cols = list(ok)
        df = spark.createDataFrame(
            [tuple(c[k] for k in cols) for c, _ in cases],
            ", ".join(f"`{k}` string" for k in cols),
        )
        parsed = F.expr("try_to_timestamp(`timestamp`)")
        now = F.expr(f"to_timestamp('{NOW}')")
        out = df.withColumn(
            "reasons", F.array_join(failure_reasons(_iot_rules(parsed, now)), ";")
        ).collect()
        for (case, expected), row in zip(cases, out):
            assert row.reasons == expected, (case, row.reasons)


class TestMinhashMechanics:
    def test_identical_texts_share_all_bands_disjoint_share_none(self, spark):
        """Two identical shingle sets must produce identical 32-signature
        (every band collides); two disjoint texts must share no band."""
        from real_time_iot_data_engineering_pipeline_spark.queries.text import (
            _BANDS,
            _ROWS,
            _minhash_sigs,
            _shingle_rows,
        )

        rows = [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "one two three four five six"),
        ]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        df = _minhash_sigs(_shingle_rows(corpus))
        sigs = {r.doc_id: tuple(r.sig) for r in df.collect()}
        assert sigs[1] == sigs[2]
        bands = {
            d: {tuple(sigs[d][b * _ROWS : (b + 1) * _ROWS]) for b in range(_BANDS)}
            for d in sigs
        }
        assert bands[1] & bands[3] == set()


class TestQualityAlertThresholds:
    """The reference's alert rules (Learning Guide §5-6) at their exact
    edges: >10% DLQ, <95% quality, >5 min freshness — all strict."""

    def test_exact_thresholds_do_not_alert(self, spark):
        from real_time_iot_data_engineering_pipeline_spark.queries.validation import (
            alert_flags,
        )

        m = spark.createDataFrame(
            [("a", 0.10, 0.95, 5.0)],
            "event_type string, dlq_share double, validity_ratio double, freshness_min double",
        )
        row = alert_flags(m).collect()[0]
        assert not row.alert_dlq and not row.alert_quality
        assert not row.alert_freshness and not row.any_alert

    def test_just_past_thresholds_alert(self, spark):
        from real_time_iot_data_engineering_pipeline_spark.queries.validation import (
            alert_flags,
        )

        m = spark.createDataFrame(
            [("a", 0.1001, 0.9499, 5.0001)],
            "event_type string, dlq_share double, validity_ratio double, freshness_min double",
        )
        row = alert_flags(m).collect()[0]
        assert row.alert_dlq and row.alert_quality
        assert row.alert_freshness and row.any_alert

    def test_single_metric_trips_any_alert(self, spark):
        from real_time_iot_data_engineering_pipeline_spark.queries.validation import (
            alert_flags,
        )

        m = spark.createDataFrame(
            [("a", 0.0, 1.0, 6.0), ("b", 0.0, 1.0, 0.0)],
            "event_type string, dlq_share double, validity_ratio double, freshness_min double",
        )
        rows = {r.event_type: r for r in alert_flags(m).collect()}
        assert rows["a"].any_alert and rows["a"].alert_freshness
        assert not rows["b"].any_alert


class TestRealMediaDecode:
    """Genuine PNG/JPEG/WAV bytes through the decode_media seam — the
    real-codec branch of the multimodal stage (fake_decode_features stays
    the oracle path because fixture payloads are utf8 text, not media)."""

    @staticmethod
    def _png(width: int, height: int) -> bytes:
        import struct
        import zlib

        def chunk(ctype: bytes, data: bytes) -> bytes:
            body = ctype + data
            return struct.pack(">I", len(data)) + body + struct.pack(
                ">I", zlib.crc32(body)
            )

        ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        raw = b"".join(b"\x00" + b"\x10\x20\x30" * width for _ in range(height))
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    @staticmethod
    def _wav(rate: int, channels: int, n_frames: int) -> bytes:
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x01\x02" * channels * n_frames)
        return buf.getvalue()

    @staticmethod
    def _jpeg(width: int, height: int) -> bytes:
        """Minimal well-formed JPEG prefix: SOI, APP0/JFIF, a comment
        segment (exercises segment walking), DQT stub, then SOF0 carrying
        the dimensions.  Entropy data is irrelevant to the header parse."""
        import struct

        def seg(marker: int, body: bytes) -> bytes:
            return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

        app0 = seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        com = seg(0xFE, b"synthetic fixture")
        dqt = seg(0xDB, b"\x00" + bytes(64))
        sof0 = seg(
            0xC0,
            struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00",
        )
        return b"\xff\xd8" + app0 + com + dqt + sof0 + b"\xff\xd9"

    @staticmethod
    def _mp4(
        width: int,
        height: int,
        n_samples: int,
        timescale: int = 1000,
        duration: int = 2500,
    ) -> bytes:
        """Minimal spec-conformant ISO-BMFF container (ISO 14496-12):
        ftyp + moov{mvhd v0, trak{tkhd v0, mdia{minf{stbl{stsz}}}}} with
        constant sample size (no per-sample table)."""
        import struct

        def box(btype: bytes, body: bytes) -> bytes:
            return struct.pack(">I", 8 + len(body)) + btype + body

        matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
        mvhd = box(
            b"mvhd",
            struct.pack(">IIIII", 0, 0, 0, timescale, duration)  # ver/flags..duration
            + struct.pack(">IHH", 0x10000, 0x0100, 0)  # rate, volume, reserved
            + bytes(8)  # reserved
            + matrix
            + bytes(24)  # pre_defined
            + struct.pack(">I", 2),  # next_track_ID
        )
        tkhd = box(
            b"tkhd",
            struct.pack(">IIIIII", 0x7, 0, 0, 1, 0, duration)  # flags..duration
            + bytes(8)  # reserved
            + struct.pack(">HHHH", 0, 0, 0, 0)  # layer/alt_group/volume/reserved
            + matrix
            + struct.pack(">II", width << 16, height << 16),
        )
        stsz = box(b"stsz", struct.pack(">III", 0, 100, n_samples))
        trak = box(b"trak", tkhd + box(b"mdia", box(b"minf", box(b"stbl", stsz))))
        return ftyp + box(b"moov", mvhd + trak) + box(b"mdat", b"\x00" * 16)

    def test_real_bytes_through_mapinpandas(self, spark):
        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            FEATURE_SCHEMA,
            extract_features_real,
        )

        png = self._png(17, 9)
        jpg = self._jpeg(33, 21)
        wav = self._wav(8000, 2, 5)
        mp4 = self._mp4(640, 360, 75)
        df = spark.createDataFrame(
            [
                (1, "image/png", bytearray(png)),
                (2, "audio/wav", bytearray(wav)),
                (3, "image/jpeg", bytearray(jpg)),
                (4, "video/mp4", bytearray(mp4)),
            ],
            "doc_id long, content_type string, payload binary",
        )
        rows = {
            r.doc_id: r
            for r in df.mapInPandas(extract_features_real, FEATURE_SCHEMA).collect()
        }
        assert (rows[1].width, rows[1].height, rows[1].n_frames) == (17, 9, 1)
        assert (rows[2].width, rows[2].height, rows[2].n_frames) == (8000, 2, 5)
        assert (rows[3].width, rows[3].height, rows[3].n_frames) == (33, 21, 1)
        assert (rows[4].width, rows[4].height, rows[4].n_frames) == (640, 360, 75)
        assert rows[1].byte_len == len(png) and rows[2].byte_len == len(wav)

    def test_mp4_metadata_decoded(self):
        """Brand + duration/timescale surface through decode_mp4_metadata,
        and v1 (64-bit) mvhd parses identically."""
        import struct

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_mp4_metadata,
        )

        meta = decode_mp4_metadata(self._mp4(1280, 720, 30, 90000, 450000))
        assert meta["brand"] == "isom"
        assert (meta["timescale"], meta["duration"]) == (90000, 450000)
        assert abs(meta["duration_sec"] - 5.0) < 1e-12
        assert (meta["width"], meta["height"], meta["n_samples"]) == (1280, 720, 30)

        # v1 mvhd: version byte 1, 64-bit creation/modification/duration
        mvhd_v1_body = (
            b"\x01\x00\x00\x00"
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">IQ", 600, 1800)
            + struct.pack(">IHH", 0x10000, 0x0100, 0)
            + bytes(8)
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + bytes(24)
            + struct.pack(">I", 2)
        )
        mvhd_v1 = struct.pack(">I", 8 + len(mvhd_v1_body)) + b"mvhd" + mvhd_v1_body
        moov = struct.pack(">I", 8 + len(mvhd_v1)) + b"moov" + mvhd_v1
        ftyp_body = b"mp42" + struct.pack(">I", 0) + b"mp42"
        ftyp = struct.pack(">I", 8 + len(ftyp_body)) + b"ftyp" + ftyp_body
        meta = decode_mp4_metadata(ftyp + moov)
        assert meta["brand"] == "mp42"
        assert (meta["timescale"], meta["duration"]) == (600, 1800)
        assert abs(meta["duration_sec"] - 3.0) < 1e-12

    def test_mp4_truncated_stsz_reads_zero_not_sibling_bytes(self):
        """A truncated stsz box (body shorter than the 12-byte fixed header)
        followed by a sibling box must yield sample count 0 — not silently
        read the count from the sibling's header bytes."""
        import struct

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            _mp4_stsz_count,
        )

        def box(btype: bytes, body: bytes) -> bytes:
            return struct.pack(">I", 8 + len(body)) + btype + body

        truncated = box(b"stsz", struct.pack(">II", 0, 100))  # 8-byte body
        sibling = box(b"free", struct.pack(">III", 7, 7, 7))
        stbl = box(b"stbl", truncated + sibling)
        assert _mp4_stsz_count(stbl, 0, len(stbl)) == 0

    def test_mp4_corrupt_bytes_rejected(self):
        import pytest as _pytest

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_media,
        )

        with _pytest.raises(ValueError):
            decode_media(b"\x00\x01", "video/mp4")  # no ftyp/moov
        with _pytest.raises(ValueError):
            # well-formed size field pointing past the payload end
            decode_media(b"\x00\x00\x00\xffftyp", "video/mp4")

    def test_pcm_samples_decoded_through_mapinpandas(self, spark):
        """Payload-level audio decode: known 16-bit PCM samples come back
        with exact loudness stats through the Arrow stage."""
        import io
        import struct
        import wave

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            AUDIO_STATS_SCHEMA,
            decode_wav_pcm,
            extract_audio_stats_real,
        )

        samples = [0, 100, -200, 300, -32768, 32767]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        wav = buf.getvalue()

        rate, channels, got = decode_wav_pcm(wav)
        assert (rate, channels, got) == (16000, 1, samples)

        df = spark.createDataFrame(
            [(1, bytearray(wav))], "doc_id long, payload binary"
        )
        [row] = df.mapInPandas(
            extract_audio_stats_real, AUDIO_STATS_SCHEMA
        ).collect()
        assert row.sample_rate == 16000 and row.channels == 1
        assert row.n_samples == len(samples)
        assert row.peak_abs == 32768
        expect_rms = (sum(s * s for s in samples) / len(samples)) ** 0.5
        assert abs(row.rms - expect_rms) < 1e-9

    def test_pcm_rejects_non_integer_formats(self):
        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_wav_pcm,
        )
        import pytest as _pytest
        import struct

        # hand-build a float-PCM (format tag 3) WAV: must be refused
        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", 4) + b"\x00\x00\x80\x3f"
        wav = b"RIFF" + struct.pack("<I", len(body)) + body
        with _pytest.raises(ValueError, match="format tag"):
            decode_wav_pcm(wav)

    def test_jpeg_corrupt_bytes_rejected(self):
        import pytest as _pytest

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_media,
        )

        with _pytest.raises(ValueError):
            decode_media(b"\xff\xd8\x00\x00", "image/jpeg")  # marker desync
        with _pytest.raises(ValueError):
            decode_media(b"GIF89a", "image/jpeg")  # no SOI

    def test_unsupported_type_raises(self):
        """The codec seam is narrowed to frame decode: unknown content
        types and decode_video_frames raise NotImplementedError; every
        supported container's metadata decode is real."""
        import pytest as _pytest

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_media,
            decode_video_frames,
        )

        with _pytest.raises(NotImplementedError):
            decode_media(b"\x00\x01", "video/webm")
        with _pytest.raises(NotImplementedError):
            decode_video_frames(self._mp4(64, 48, 3))

    def test_corrupt_bytes_rejected(self):
        import pytest as _pytest

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_media,
        )

        with _pytest.raises(ValueError):
            decode_media(b"not a png at all", "image/png")
        with _pytest.raises(ValueError):
            decode_media(b"RIFFxxxxNOPE", "audio/wav")


class TestIotNullUserIdParity:
    """Spark format_string renders NULL args as the string
    'null' while DuckDB printf returns NULL.  The wire derivation gates on
    user_id IS NULL explicitly; both engines must emit a NULL sensor_id for
    a NULL user_id even though current fixtures never exercise it."""

    def test_null_user_id_yields_null_sensor_id_both_engines(self, spark):
        import duckdb

        from real_time_iot_data_engineering_pipeline_spark.queries.iot import (
            _WIRE_SQL,
            _wire_from_events,
        )

        ev = spark.createDataFrame(
            [(1, None, 42.0), (2, 7, 42.0)],
            "event_id long, user_id long, value double",
        )
        srows = {r.event_id: r.sensor_id for r in _wire_from_events(ev).collect()}
        assert srows[1] is None
        assert srows[2] is not None and srows[2] != "null"

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE events AS SELECT * FROM (VALUES "
            "(1, NULL, 42.0), (2, 7, 42.0)) t(event_id, user_id, value)"
        )
        drows = {
            r[0]: r[1]
            for r in con.execute(
                f"SELECT event_id, sensor_id FROM ({_WIRE_SQL})"
            ).fetchall()
        }
        assert drows[1] is None
        assert drows[2] == srows[2]


class TestPiiRedaction:
    def test_url_redacted_before_email_and_tricky_cases(self, spark):
        from real_time_iot_data_engineering_pipeline_spark.queries.prep import (
            EMAIL_RE,
            PHONE_RE,
            URL_RE,
        )

        df = spark.createDataFrame(
            [
                (1, "see https://x.io/?mail=bob@x.io and mail carol@y.org"),
                (2, "call 555-1234 now"),
                (3, "nothing sensitive here"),
            ],
            "doc_id long, text string",
        )
        red = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), URL_RE, "[URL]"),
                EMAIL_RE,
                "[EMAIL]",
            ),
            PHONE_RE,
            "[PHONE]",
        )
        rows = {r.doc_id: r.out for r in df.select("doc_id", red.alias("out")).collect()}
        # URL-first: the email inside the URL query string vanishes WITH the
        # URL instead of leaving '[URL-prefix][EMAIL]' debris
        assert rows[1] == "see [URL] and mail [EMAIL]"
        assert rows[2] == "call [PHONE] now"
        assert rows[3] == "nothing sensitive here"


class TestIncrementalMart:
    """dbt incremental daily mart (merge strategy): only new dates process,
    the boundary day reprocesses for late data, and the merged table always
    equals the full recompute."""

    @staticmethod
    def _events(spark, rows):
        return spark.createDataFrame(
            [(i, u, ts, "click", v) for i, (u, ts, v) in enumerate(rows)],
            "event_id long, user_id long, ts timestamp, event_type string, value double",
        )

    def test_refresh_processes_only_new_dates_and_matches_full(
        self, spark, tmp_path
    ):
        import datetime as dt

        from real_time_iot_data_engineering_pipeline_spark.queries.marts import (
            daily_mart_frame,
            mart_daily_incremental_refresh,
        )
        from real_time_iot_data_engineering_pipeline_spark.sinks import (
            KeyedParquetSink,
        )

        sink = KeyedParquetSink(
            spark, str(tmp_path / "mart"), ["user_id", "reading_date"]
        )
        t1 = [
            (1, dt.datetime(2024, 1, 1, 10), 5.0),
            (1, dt.datetime(2024, 1, 1, 11), 7.0),
            (1, dt.datetime(2024, 1, 2, 9), 10.0),
        ]
        p1 = mart_daily_incremental_refresh(spark, self._events(spark, t1), sink, 1)
        assert p1.count() == 2  # first run: full history (2 days)
        assert sink.read().count() == 2

        # tranche 2: a LATE row for day 2 plus a new day 3, new user
        t2 = t1 + [
            (1, dt.datetime(2024, 1, 2, 23), 20.0),
            (2, dt.datetime(2024, 1, 3, 8), 1.0),
        ]
        ev2 = self._events(spark, t2)
        p2 = mart_daily_incremental_refresh(spark, ev2, sink, 2)
        processed_days = {str(r.reading_date) for r in p2.collect()}
        # day 1 NOT reprocessed; boundary day 2 reprocessed; day 3 new
        assert processed_days == {"2024-01-02 00:00:00", "2024-01-03 00:00:00"}

        merged = {
            (r.user_id, str(r.reading_date)): (r.n_readings, r.avg_value)
            for r in sink.read().collect()
        }
        full = {
            (r.user_id, str(r.reading_date)): (r.n_readings, r.avg_value)
            for r in daily_mart_frame(spark, ev2).collect()
        }
        assert merged == full  # incremental == full recompute
        assert merged[(1, "2024-01-02 00:00:00")] == (2, 15.0)  # late row in

    def test_refresh_is_idempotent(self, spark, tmp_path):
        import datetime as dt

        from real_time_iot_data_engineering_pipeline_spark.queries.marts import (
            mart_daily_incremental_refresh,
        )
        from real_time_iot_data_engineering_pipeline_spark.sinks import (
            KeyedParquetSink,
        )

        sink = KeyedParquetSink(
            spark, str(tmp_path / "mart"), ["user_id", "reading_date"]
        )
        ev = self._events(spark, [(1, dt.datetime(2024, 1, 1, 10), 5.0)])
        mart_daily_incremental_refresh(spark, ev, sink, 1)
        once = sorted(map(tuple, sink.read().collect()))
        mart_daily_incremental_refresh(spark, ev, sink, 2)  # same data again
        assert sorted(map(tuple, sink.read().collect())) == once


class TestReadability:
    def test_flesch_matches_python_recompute(self, spark, sf_dir):
        """Per-doc Flesch must equal an independent pure-Python recompute
        of the same heuristic, and the plan must stay shuffle-free."""
        import math
        import os
        import re

        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark import registry

        registry.load_all()
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        rows = {
            r["doc_id"]: r
            for r in registry.QUERIES["q_readability"](spark, sf_dir).collect()
        }
        assert len(rows) == len(docs)
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            words = re.split(r"\s+", text.strip())
            n_words = len(words)
            n_sent = max(1, len(re.findall(r"[.!?]+", text)))
            n_syl = len(re.findall(r"[aeiouy]+", text.lower())) + sum(
                1
                for w in re.split(r"\s+", text.strip().lower())
                if not re.search(r"[aeiouy]+", w)
            )
            flesch = (
                206.835
                - 1.015 * n_words / n_sent
                - 84.6 * n_syl / max(1, n_words)
            )
            s = 10.0**4
            flesch = math.floor(flesch * s * (1.0 + 1e-12) + 0.5) / s
            r = rows[doc_id]
            assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (
                n_words,
                n_sent,
                n_syl,
            ), doc_id
            assert abs(r["flesch"] - flesch) < 1e-9, doc_id
            expect_band = (
                "easy"
                if flesch >= 80
                else "standard"
                if flesch >= 60
                else "difficult"
                if flesch >= 30
                else "very_difficult"
            )
            assert r["band"] == expect_band, doc_id

    def test_plan_shuffle_free(self, spark, sf_dir):
        from real_time_iot_data_engineering_pipeline_spark import registry

        registry.load_all()
        plan = (
            registry.QUERIES["q_readability"](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPngPixelDecode:
    """decode_png_pixels against an INDEPENDENT encoder written here: the
    test applies the spec's filter transforms FORWARD (encoder direction)
    and the engine must invert them exactly — covering all five filter
    types, packed sub-byte depths, 16-bit samples, and palette expansion.
    PNG pixel decode needs only
    stdlib zlib, so the codec seam narrows to decode_video_frames."""

    @staticmethod
    def _chunk(ctype: bytes, data: bytes) -> bytes:
        import struct
        import zlib

        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body)
        )

    @classmethod
    def _encode_png(
        cls,
        rows,
        width,
        color_type,
        bit_depth,
        filters,
        plte=None,
    ) -> bytes:
        """Spec-forward PNG encoder: pack each row's samples at bit_depth,
        apply the REQUESTED filter type per row (PNG spec §9: the filter
        transforms bytes, offset bpp), deflate, wrap in chunks."""
        import struct
        import zlib

        nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
        bits_per_px = nch * bit_depth
        stride = (width * bits_per_px + 7) // 8
        bpp = max(1, bits_per_px // 8)

        def pack_row(vals):
            if bit_depth == 8:
                return bytearray(vals)
            if bit_depth == 16:
                out = bytearray()
                for v in vals:
                    out += struct.pack(">H", v)
                return out
            per = 8 // bit_depth
            out = bytearray(stride)
            for i, v in enumerate(vals):
                out[i // per] |= v << (8 - bit_depth * ((i % per) + 1))
            return out

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        raw = b""
        prev = bytearray(stride)
        for y, vals in enumerate(rows):
            cur = pack_row(vals)
            assert len(cur) == stride
            f = filters[y]
            filt = bytearray(stride)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = prev[i]
                elif f == 3:
                    pred = (a + prev[i]) >> 1
                else:
                    pred = paeth(a, prev[i], c)
                filt[i] = (cur[i] - pred) & 0xFF
            raw += bytes([f]) + bytes(filt)
            prev = cur
        ihdr = struct.pack(
            ">IIBBBBB", width, len(rows), bit_depth, color_type, 0, 0, 0
        )
        out = b"\x89PNG\r\n\x1a\n" + cls._chunk(b"IHDR", ihdr)
        if plte is not None:
            out += cls._chunk(b"PLTE", bytes(plte))
        out += cls._chunk(b"IDAT", zlib.compress(raw))
        return out + cls._chunk(b"IEND", b"")

    def test_all_five_filters_invert_exactly(self):
        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_png_pixels,
        )

        w, h, nch = 11, 5, 3
        rows = [
            [(x * 7 + y * 13 + (x * y) % 31) % 256 for x in range(w * nch)]
            for y in range(h)
        ]
        png = self._encode_png(rows, w, 2, 8, filters=[0, 1, 2, 3, 4])
        dw, dh, dch, depth, decoded = decode_png_pixels(png)
        assert (dw, dh, dch, depth) == (w, h, 3, 8)
        assert decoded == rows

    def test_sixteen_bit_grayscale(self):
        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_png_pixels,
        )

        w, h = 6, 4
        rows = [
            [(x * 9973 + y * 257) % 65536 for x in range(w)] for y in range(h)
        ]
        png = self._encode_png(rows, w, 0, 16, filters=[0, 2, 4, 1])
        dw, dh, dch, depth, decoded = decode_png_pixels(png)
        assert (dw, dh, dch, depth) == (w, h, 1, 16)
        assert decoded == rows

    def test_palette_and_packed_bits(self):
        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_png_pixels,
        )

        # 4-bit palette: indices expand through PLTE to RGB
        plte = bytes(range(16 * 3))
        w, h = 7, 3
        idx_rows = [[(x + y) % 16 for x in range(w)] for y in range(h)]
        png = self._encode_png(idx_rows, w, 3, 4, filters=[0, 0, 1], plte=plte)
        dw, dh, dch, depth, decoded = decode_png_pixels(png)
        assert (dw, dh, dch, depth) == (w, h, 3, 4)
        expect = [
            [plte[3 * v + k] for v in row for k in range(3)]
            for row in idx_rows
        ]
        assert decoded == expect
        # 1-bit grayscale with a non-byte-aligned width
        bit_rows = [[(x ^ y) & 1 for x in range(13)] for y in range(2)]
        png1 = self._encode_png(bit_rows, 13, 0, 1, filters=[0, 2])
        _, _, dch1, depth1, decoded1 = decode_png_pixels(png1)
        assert (dch1, depth1) == (1, 1)
        assert decoded1 == bit_rows

    def test_interlaced_and_corrupt_rejected(self):
        import struct
        import zlib as _zlib

        import pytest as _pytest

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            decode_png_pixels,
        )

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)  # Adam7 flag
        png = (
            b"\x89PNG\r\n\x1a\n"
            + self._chunk(b"IHDR", ihdr)
            + self._chunk(b"IDAT", _zlib.compress(b"\x00" * 12))
            + self._chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError, match="interlaced"):
            decode_png_pixels(png)
        with _pytest.raises(ValueError):
            decode_png_pixels(b"not a png")
        # scanline size mismatch (IDAT one byte short)
        ihdr2 = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        short = (
            b"\x89PNG\r\n\x1a\n"
            + self._chunk(b"IHDR", ihdr2)
            + self._chunk(b"IDAT", _zlib.compress(b"\x00" * 5))
            + self._chunk(b"IEND", b"")
        )
        with _pytest.raises(ValueError, match="scanline"):
            decode_png_pixels(short)

    def test_pixel_stats_through_mapinpandas(self, spark):
        """The real-PNG fixture (TestRealMediaDecode._png: every pixel
        (0x10, 0x20, 0x30), filter 0, RGB-8) through the Arrow stage with
        EXACT pixel-level expectations — mean/peak computed independently
        here, and the sample hash recomputed from first principles."""
        import hashlib as _hashlib

        from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
            IMAGE_STATS_SCHEMA,
            extract_image_stats_real,
        )

        w, h = 17, 9
        png = TestRealMediaDecode._png(w, h)
        varied_rows = [
            [(x * 31 + y * 7) % 256 for x in range(5 * 3)] for y in range(4)
        ]
        varied = self._encode_png(varied_rows, 5, 2, 8, filters=[0, 1, 3, 4])
        df = spark.createDataFrame(
            [(1, bytearray(png)), (2, bytearray(varied))],
            "doc_id long, payload binary",
        )
        rows = {
            r.doc_id: r
            for r in df.mapInPandas(
                extract_image_stats_real, IMAGE_STATS_SCHEMA
            ).collect()
        }
        r1 = rows[1]
        assert (r1.width, r1.height, r1.channels, r1.bit_depth) == (w, h, 3, 8)
        assert r1.n_pixels == w * h
        assert r1.peak == 0x30
        assert r1.mean == (0x10 + 0x20 + 0x30) / 3
        assert (
            r1.pixel_sha256
            == _hashlib.sha256(b"\x10\x20\x30" * (w * h)).hexdigest()
        )
        r2 = rows[2]
        flat = [v for row in varied_rows for v in row]
        assert r2.peak == max(flat)
        assert r2.mean == sum(flat) / len(flat)
        assert (
            r2.pixel_sha256
            == _hashlib.sha256(
                b"".join(bytes(row) for row in varied_rows)
            ).hexdigest()
        )
