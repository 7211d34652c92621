"""Golden tests for the streaming MinHash/LSH near-dup operator: the
Python signature must match the batch plan bit-for-bit, buckets must carry
state ACROSS micro-batches, and the stream's distinct pair set must equal
the oracled batch MinHash pair computation on the same documents."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from real_time_iot_data_engineering_pipeline_spark.queries.text import (
    _minhash_sigs,
    _shingle_rows,
)
from real_time_iot_data_engineering_pipeline_spark.streaming.near_dup import (
    BUCKET_CAP,
    PAIR_MIN_EST,
    banded_rows,
    minhash_signature,
    near_dup_stream,
)

# Near-identical pair (one word dropped) + one unrelated doc; long enough
# that 3-word shingle overlap stays above the 0.5 estimated-Jaccard bar.
_BASE = (
    "the quick brown fox jumps over the lazy dog while the watchful cat "
    "silently observes every single move from the warm wooden porch nearby"
)
_NEAR = _BASE.rsplit(" ", 1)[0]
_OTHER = (
    "completely different text about distributed stream processing engines "
    "state stores watermarks checkpoints and exactly once delivery semantics"
)


def _doc(doc_id: int, ts: str, text: str) -> dict:
    return {"doc_id": doc_id, "ts": ts, "text": text}


def _write(src, name, rows, seq):
    import os
    import time

    path = os.path.join(str(src), name)
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    os.utime(path, (time.time() + seq, time.time() + seq))


def test_python_signature_matches_batch_plan(spark, tmp_path):
    """minhash_signature must reproduce the Spark batch signature exactly
    (same md5 halves, same (h1 + i*h2) mod P family, same shingling)."""
    docs = spark.createDataFrame(
        [(1, _BASE), (2, _NEAR), (3, _OTHER)], "doc_id long, text string"
    )
    batch = {
        r.doc_id: list(r.sig)
        for r in _minhash_sigs(_shingle_rows(docs)).collect()
    }
    for doc_id, text in ((1, _BASE), (2, _NEAR), (3, _OTHER)):
        assert minhash_signature(text) == batch[doc_id], doc_id


def test_jvm_stream_signature_matches_batch_plan(spark):
    """The stream's per-row JVM signature fold (near_dup._SIG_SQL, used by
    banded_rows) must reproduce the batch plan's signatures bit-for-bit,
    and its band rows must carry the exact band_key/sig_json encodings the
    stateful stage expects — the same pin the Python reference twin holds,
    now covering all three family members."""
    from real_time_iot_data_engineering_pipeline_spark.queries.text import (
        _BANDS,
        _ROWS,
    )

    docs = spark.createDataFrame(
        [
            (1, _BASE, "2024-01-15 10:00:00"),
            (2, _NEAR, "2024-01-15 10:00:10"),
            (3, _OTHER, "2024-01-15 10:00:20"),
            (4, "two words", "2024-01-15 10:00:30"),  # <3 words: no rows
        ],
        "doc_id long, text string, ts string",
    ).select("doc_id", "text", F.to_timestamp("ts").alias("ts"))
    batch = {
        r.doc_id: list(r.sig)
        for r in _minhash_sigs(_shingle_rows(docs)).collect()
    }
    rows = banded_rows(docs).collect()
    assert {r.doc_id for r in rows} == {1, 2, 3}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, doc_rows in by_doc.items():
        sig = batch[doc_id]
        assert len(doc_rows) == _BANDS
        expected_json = json.dumps(sig, separators=(",", ":"))
        expected_keys = {
            f"{b}:" + "|".join(str(x) for x in sig[b * _ROWS : (b + 1) * _ROWS])
            for b in range(_BANDS)
        }
        assert all(r.sig_json == expected_json for r in doc_rows), doc_id
        assert {r.band_key for r in doc_rows} == expected_keys, doc_id


def test_signature_none_for_short_docs():
    assert minhash_signature("two words") is None
    assert minhash_signature("") is None
    assert minhash_signature(None) is None  # type: ignore[arg-type]


def _run_stream(spark, src, ckpt, qname):
    docs = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("doc_id", "text", F.to_timestamp("ts").alias("ts"))
    )
    out = near_dup_stream(docs)
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {qname}").collect()


def test_cross_batch_near_dup_detected_and_matches_batch_twin(spark, tmp_path):
    """The duplicate arrives TWO micro-batches after the original: the band
    buckets must remember it.  The stream's DISTINCT pair set (emission is
    at-least-once per band) must equal the batch MinHash pair computation
    (the DuckDB-oracled q_doc_dedup_minhash core) on the same documents."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "f1.json", [_doc(1, "2024-01-15 10:00:00", _BASE)], 0)
    _write(src, "f2.json", [_doc(3, "2024-01-15 10:00:10", _OTHER)], 1)
    _write(src, "f3.json", [_doc(2, "2024-01-15 10:00:20", _NEAR)], 2)
    rows = _run_stream(spark, src, tmp_path / "ckpt", "near_dup_cross")
    stream_pairs = {(r.doc_a, r.doc_b, r.est_jaccard) for r in rows}
    assert stream_pairs, "expected the planted near-dup pair to surface"
    assert all(e >= PAIR_MIN_EST for *_ids, e in stream_pairs)

    # batch twin: same signature machinery the DuckDB oracle certifies
    docs = spark.createDataFrame(
        [(1, _BASE), (2, _NEAR), (3, _OTHER)], "doc_id long, text string"
    )
    sigs = _minhash_sigs(_shingle_rows(docs)).collect()
    by_id = {r.doc_id: list(r.sig) for r in sigs}
    expected = set()
    ids = sorted(by_id)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            est = sum(1 for x, y in zip(by_id[a], by_id[b]) if x == y) / len(
                by_id[a]
            )
            if est >= PAIR_MIN_EST:
                expected.add((a, b, est))
    assert stream_pairs == expected


def test_replayed_doc_does_not_pair_with_itself(spark, tmp_path):
    """At-least-once sources replay rows; a bucket member re-arriving must
    not emit (x, x) or duplicate-pair against the stored copy of itself."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "f1.json", [_doc(1, "2024-01-15 10:00:00", _BASE)], 0)
    _write(
        src,
        "f2.json",
        [
            _doc(1, "2024-01-15 10:00:00", _BASE),  # replay
            _doc(2, "2024-01-15 10:00:20", _NEAR),
        ],
        1,
    )
    rows = _run_stream(spark, src, tmp_path / "ckpt", "near_dup_replay")
    assert all(r.doc_a != r.doc_b for r in rows)
    assert {(r.doc_a, r.doc_b) for r in rows} == {(1, 2)}


def test_bucket_cap_bounds_state():
    """Drop-oldest: the fold never retains more than `cap` members."""
    import pandas as pd

    from real_time_iot_data_engineering_pipeline_spark.streaming.near_dup import (
        _bucket_fold,
    )
    from .test_stateful import _FakeState

    sig = minhash_signature(_BASE)
    cap = 4
    fold = _bucket_fold(cap, ttl_ms=1000)
    state = _FakeState()
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(10)),
            "ts": pd.to_datetime(["2024-01-15 10:00:00"] * 10),
            "sig_json": [json.dumps(sig)] * 10,
        }
    )
    list(fold(("0:1|2|3|4",), iter([pdf]), state))
    doc_ids = json.loads(state.updated[0])
    assert len(doc_ids) == cap
    assert doc_ids == list(range(10))[-cap:]  # drop-oldest keeps the newest


def test_timed_out_bucket_is_evicted():
    from real_time_iot_data_engineering_pipeline_spark.streaming.near_dup import (
        _bucket_fold,
    )
    from .test_stateful import _FakeState

    fold = _bucket_fold(BUCKET_CAP, ttl_ms=1000)
    state = _FakeState(value=("[1]", "[[0]]"), timed_out=True)
    assert list(fold(("0:k",), iter([]), state)) == []
    assert state.removed
    assert state.updated is None  # never re-armed


def test_bucket_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume golden: the band-bucket store
    must survive a full query shutdown.  Run 1 drains the ORIGINAL doc
    and terminates; run 2 — a NEW query on the SAME checkpoint — sees
    only the near-duplicate and can emit the (1, 2) pair ONLY if doc 1's
    stored signature was recovered from the state store."""
    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"

    def run(qname):
        docs = (
            spark.readStream.schema("doc_id long, ts string, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .select("doc_id", "text", F.to_timestamp("ts").alias("ts"))
        )
        q = (
            near_dup_stream(docs)
            .writeStream.format("parquet")
            .queryName(qname)
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(str(out)).collect()

    _write(src, "f1.json", [_doc(1, "2024-01-15 10:00:00", _BASE)], 0)
    assert run("ndr_a") == []  # lone doc: nothing to pair with

    _write(src, "f2.json", [_doc(2, "2024-01-15 10:00:20", _NEAR)], 1)
    pairs = {(r.doc_a, r.doc_b) for r in run("ndr_b")}
    assert pairs == {(1, 2)}, pairs
