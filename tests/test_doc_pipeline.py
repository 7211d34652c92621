"""Streaming document-ingest golden tests: content-hash dedup within the
watermark, the word-count quality gate, and per-batch stats — the LLM-data
tier's batch semantics (queries/text.py) applied at ingest time."""

from __future__ import annotations

import json
import os
import time

import pytest

from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
    run_doc_ingest,
)

GOOD = "the quick brown fox jumps over the lazy dog today"
OTHER = "a completely different document with plenty of useful words inside"


def _write(src: str, name: str, rows: list[dict], seq: int) -> None:
    path = os.path.join(src, name)
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    os.utime(path, (time.time() + seq, time.time() + seq))


def doc(doc_id, text, fetched_at, source="crawl"):
    return dict(doc_id=doc_id, text=text, source=source, fetched_at=fetched_at)


def test_doc_ingest_dedups_gates_and_counts(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write(
        str(src),
        "f1.json",
        [
            doc(1, GOOD, "2024-01-19 10:00:00"),
            doc(2, "too short", "2024-01-19 10:00:05"),  # gated: 2 words
        ],
        seq=0,
    )
    _write(
        str(src),
        "f2.json",
        [
            # same CONTENT as doc 1 (re-cased + padded) within the
            # watermark horizon -> dedup drops it
            doc(3, "  " + GOOD.upper() + " ", "2024-01-19 10:00:30"),
            doc(4, OTHER, "2024-01-19 10:00:40"),
        ],
        seq=1,
    )

    sink = run_doc_ingest(spark, str(src), str(tmp_path / "out"))

    assert {r.doc_id for r in sink.read_docs().collect()} == {1, 4}
    rejects = sink.read_rejects().collect()
    assert [r.doc_id for r in rejects] == [2]
    assert rejects[0].n_words == 2

    stats = {r.epoch: (r.n_unique, r.n_accepted, r.n_rejected)
             for r in sink.read_stats().collect()}
    assert stats[0] == (2, 1, 1)  # docs 1+2 unique; 2 gated
    assert stats[1] == (1, 1, 0)  # doc 3 deduped away; only 4 remains


def test_doc_ingest_stream_static_policy_enrichment(spark, tmp_path):
    """Stream-static broadcast join: allowed sources pass with license +
    mix_weight attached, blocked sources are rejected with a typed reason,
    and sources ABSENT from the policy are denied by default."""
    from pyspark.sql import functions as F

    from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
        default_source_policy,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write(
        str(src),
        "f1.json",
        [
            doc(1, GOOD, "2024-01-19 10:00:00", source="wiki"),
            doc(2, OTHER, "2024-01-19 10:00:05", source="paywalled"),  # blocked
            doc(3, GOOD + " again", "2024-01-19 10:00:10", source="mystery"),
            doc(4, "too short", "2024-01-19 10:00:15", source="wiki"),  # gated
        ],
        seq=0,
    )

    sink = run_doc_ingest(
        spark, str(src), str(tmp_path / "out"), policy=default_source_policy(spark)
    )

    docs = {r.doc_id: r for r in sink.read_docs().collect()}
    assert set(docs) == {1}
    assert docs[1].license == "permissive" and docs[1].mix_weight == 1.0

    rejects = {r.doc_id: r.reject_reason for r in sink.read_rejects().collect()}
    assert rejects == {2: "blocked_source", 3: "blocked_source", 4: "short_text"}

    # the same enrichment join over a batch frame must plan as broadcast
    batch = spark.createDataFrame(
        [(1, GOOD, "wiki", "2024-01-19 10:00:00")],
        "doc_id long, text string, source string, fetched_at string",
    )
    enriched = batch.join(
        F.broadcast(default_source_policy(spark)), "source", "left"
    )
    assert "BroadcastHashJoin" in (
        enriched._jdf.queryExecution().executedPlan().toString()
    )


def test_doc_ingest_curation_gates(spark, tmp_path):
    """Gate stage active: the Gopher repetition bound and the quality floor
    reject at ingest with typed reasons, reusing the batch formulas —
    a doc passing the batch q_repetition_filter threshold passes here."""
    from real_time_iot_data_engineering_pipeline_spark.queries.curation import (
        DUP_TOKEN_MAX,
    )
    from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
        QUALITY_MIN,
    )

    # 12 tokens, 2 distinct -> dup_token_frac 10/12 = 0.83 > 0.6.
    repetitive = "spam ham " * 6
    # DISTINCT tokens (repetition gate stays quiet) but no stopwords and
    # implausibly long words -> score < 0.3 (length credit 8/100*0.5 =
    # 0.04, stopword credit 0, word-length credit 0 since avg len > 10).
    lowq = " ".join(f"qqqqqqqqqqqqqqq{i}" for i in range(8))
    src = tmp_path / "src"
    src.mkdir()
    _write(
        str(src),
        "f1.json",
        [
            doc(1, GOOD, "2024-01-19 10:00:00"),
            doc(2, repetitive.strip(), "2024-01-19 10:00:05"),
            doc(3, lowq, "2024-01-19 10:00:10"),
            doc(4, "tiny", "2024-01-19 10:00:15"),  # short_text outranks gates
        ],
        seq=0,
    )

    sink = run_doc_ingest(
        spark, str(src), str(tmp_path / "out"), with_curation_gates=True
    )

    docs = {r.doc_id: r for r in sink.read_docs().collect()}
    assert set(docs) == {1}
    assert docs[1].dup_token_frac <= DUP_TOKEN_MAX
    assert docs[1].quality_score >= QUALITY_MIN
    # readability rides along as an annotation, matching the batch formula
    import math
    import re

    words = re.split(r"\s+", GOOD.strip())
    n_sent = max(1, len(re.findall(r"[.!?]+", GOOD)))
    n_syl = len(re.findall(r"[aeiouy]+", GOOD.lower())) + sum(
        1 for w in re.split(r"\s+", GOOD.strip().lower())
        if not re.search(r"[aeiouy]+", w)
    )
    exp = 206.835 - 1.015 * len(words) / n_sent - 84.6 * n_syl / max(1, len(words))
    exp = math.floor(exp * 1e4 * (1.0 + 1e-12) + 0.5) / 1e4
    assert abs(docs[1].flesch - exp) < 1e-9

    rejects = {r.doc_id: r for r in sink.read_rejects().collect()}
    assert {d: r.reject_reason for d, r in rejects.items()} == {
        2: "repetitive",
        3: "low_quality",
        4: "short_text",
    }
    assert rejects[2].dup_token_frac > DUP_TOKEN_MAX
    assert rejects[3].quality_score < QUALITY_MIN

    stats = {r.epoch: (r.n_unique, r.n_accepted, r.n_rejected)
             for r in sink.read_stats().collect()}
    assert stats[0] == (4, 1, 3)


def test_doc_ingest_decontamination_gate(spark, tmp_path):
    """The stream decontamination gate must reject exactly the documents
    sharing a 13-gram with the (static, broadcast) eval set, using the
    same md5 gram hashes the batch q_decontaminate builds."""
    import hashlib

    canary = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"
    assert len(canary.split()) == 13
    h = hashlib.md5(canary.encode()).hexdigest()
    eval_grams = spark.createDataFrame([(h,)], "h string")

    clean = "the quick brown fox jumps over the lazy dog again and again today"
    dirty = f"prefix words here {canary} suffix words there"
    src = tmp_path / "src"
    src.mkdir()
    _write(
        str(src),
        "f1.json",
        [
            doc(1, clean, "2024-01-19 10:00:00"),
            doc(2, dirty, "2024-01-19 10:00:05"),
        ],
        seq=0,
    )
    sink = run_doc_ingest(
        spark, str(src), str(tmp_path / "out"), eval_grams=eval_grams
    )
    docs = {r.doc_id for r in sink.read_docs().collect()}
    rejects = {r.doc_id: r.reject_reason for r in sink.read_rejects().collect()}
    assert docs == {1}
    assert rejects == {2: "contaminated"}


def test_stream_gate_agrees_with_batch_decontaminate(spark, tmp_path, sf_dir):
    """Cross-path consistency: streaming the TRAIN split through the
    ingest gate armed with q_eval_grams must reject exactly the documents
    the batch q_decontaminate flags (modulo the short-text pre-gate,
    which fires first by design)."""
    import json as _json

    from real_time_iot_data_engineering_pipeline_spark import registry
    from real_time_iot_data_engineering_pipeline_spark.queries.curation import (
        _decon_corpus,
    )

    registry.load_all()
    train = (
        _decon_corpus(spark, sf_dir)
        .filter("bucket < 80")
        .select("doc_id", "text")
        .toPandas()
    )
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "f1.json", "w") as f:
        for _, r in train.iterrows():
            f.write(
                _json.dumps(
                    dict(
                        doc_id=int(r.doc_id),
                        text=r.text,
                        source="wiki",
                        fetched_at="2024-01-19 10:00:00",
                    )
                )
                + "\n"
            )
    eval_grams = registry.QUERIES["q_eval_grams"](spark, sf_dir)
    sink = run_doc_ingest(
        spark, str(src), str(tmp_path / "out"), eval_grams=eval_grams
    )
    stream_rejected = {
        r.doc_id
        for r in sink.read_rejects().collect()
        if r.reject_reason == "contaminated"
    }
    short = {
        r.doc_id
        for r in sink.read_rejects().collect()
        if r.reject_reason == "short_text"
    }
    batch = {
        r.doc_id
        for r in registry.QUERIES["q_decontaminate"](spark, sf_dir).collect()
        if r.contaminated
    }
    assert stream_rejected == batch - short
    assert stream_rejected  # the planted canaries guarantee a non-empty set


def test_doc_ingest_near_dup_branch(spark, tmp_path):
    """with_near_dup runs the LSH candidate detector as a parallel query:
    a near-duplicate arriving a LATER file than the original must surface
    as a (doc_a, doc_b) pair under out/near_dup — including when the
    exact-dup hash dedup on the ingest path would have hidden it (the two
    verdicts are independent)."""
    base = (
        "the quick brown fox jumps over the lazy dog while the watchful "
        "cat silently observes every single move from the warm wooden "
        "porch nearby"
    )
    near = base.rsplit(" ", 1)[0]  # one word dropped: near-dup, not exact
    src = tmp_path / "src"
    src.mkdir()
    _write(str(src), "f1.json", [doc(1, base, "2024-01-19 10:00:00")], seq=0)
    _write(str(src), "f2.json", [doc(5, OTHER, "2024-01-19 10:00:10")], seq=1)
    _write(str(src), "f3.json", [doc(2, near, "2024-01-19 10:00:20")], seq=2)
    sink = run_doc_ingest(
        spark, str(src), str(tmp_path / "out"), with_near_dup=True
    )
    pairs = {
        (r.doc_a, r.doc_b) for r in sink.read_near_dups().collect()
    }
    assert pairs == {(1, 2)}
    # the ingest path itself is unaffected: all three docs are distinct
    # content hashes, so all three land in docs/
    assert sink.read_docs().count() == 3


def test_doc_ingest_kn_perplexity_gate(spark, tmp_path):
    """The LM gate end-to-end: a fluent doc (bigrams drawn from the model
    corpus) passes; a shuffled-gibberish doc whose adjacencies are unseen
    scores the 1e-9 floor (~20.7 nats/bigram) and rejects as
    high_perplexity; the short-text pre-gate still wins on tiny docs."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
        run_doc_ingest,
    )

    # Tiny training corpus -> KN model: "the cat sat on the mat" idiom,
    # repeated so in-model bigrams are well supported.
    train = tmp_path / "train"
    train.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    corpus = ["the cat sat on the mat again and again"] * 5 + [
        "the dog sat on the rug again and again"
    ] * 5
    pq_mod.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(corpus)), type=pa.int64()),
                "text": pa.array(corpus, type=pa.string()),
                "lang": pa.array(["en"] * len(corpus), type=pa.string()),
                "source": pa.array(["s"] * len(corpus), type=pa.string()),
                "n_chars": pa.array([len(t) for t in corpus], type=pa.int64()),
            }
        ),
        f"{train}/documents.parquet",
    )
    from real_time_iot_data_engineering_pipeline_spark import registry

    registry.load_all()
    from real_time_iot_data_engineering_pipeline_spark.queries.ranking import (
        kn_model_table,
    )

    model = kn_model_table(spark, str(train))

    src = tmp_path / "src"
    src.mkdir()
    _write(
        str(src),
        "f1.json",
        [
            dict(doc_id=1, text="the cat sat on the mat again and again",
                 source="s", fetched_at="2024-01-19 10:00:00"),
            dict(doc_id=2, text="mat the on sat again cat the and rug",
                 source="s", fetched_at="2024-01-19 10:00:05"),
            dict(doc_id=3, text="one two", source="s",
                 fetched_at="2024-01-19 10:00:10"),
        ],
        seq=1,
    )
    from real_time_iot_data_engineering_pipeline_spark.queries.ranking import (
        kn_keep_threshold,
    )

    sink = run_doc_ingest(
        spark,
        str(src),
        str(tmp_path / "out"),
        kn_model=model,
        kn_keep=kn_keep_threshold(spark, str(train)),
    )
    docs = {r.doc_id for r in sink.read_docs().collect()}
    rejects = {r.doc_id: r.reject_reason for r in sink.read_rejects().collect()}
    assert docs == {1}
    assert rejects[2] == "high_perplexity"
    assert rejects[3] == "short_text"  # pre-gate wins before the LM


def test_stream_kn_gate_agrees_with_batch_scorer(spark, tmp_path, sf_dir):
    """Cross-path consistency: streaming the fixture corpus through the
    KN gate armed with the batch model (kn_model_table — the UNROUNDED
    probabilities; the registered q_kn_bigram_lm output is 4 dp-rounded
    for oracle hashing, which is display precision, not scoring
    precision) must (a) reproduce every
    in-model document's batch avg_nll_kn to within one 4 dp ulp (the
    stream folds a doc's bigrams sequentially; the batch merges shuffled
    partial sums — same formula, summation-order ULPs), and (b) agree on
    every keep verdict that is not within noise of the threshold itself
    (modulo the short-text pre-gate, which fires first by design)."""
    import json as _json

    import pyarrow.parquet as pq_mod

    from real_time_iot_data_engineering_pipeline_spark import registry
    from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
        MIN_WORDS,
        run_doc_ingest,
    )

    registry.load_all()
    docs = pq_mod.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "f1.json", "w") as f:
        for _, r in docs.iterrows():
            f.write(
                _json.dumps(
                    dict(doc_id=int(r.doc_id), text=r.text, source="wiki",
                         fetched_at="2024-01-19 10:00:00")
                )
                + "\n"
            )
    from real_time_iot_data_engineering_pipeline_spark.queries.ranking import (
        kn_model_table,
    )

    from real_time_iot_data_engineering_pipeline_spark.queries.ranking import (
        kn_keep_threshold,
    )

    model = kn_model_table(spark, sf_dir)
    keep_thr = kn_keep_threshold(spark, sf_dir)
    batch = {
        r.doc_id: r
        for r in registry.QUERIES["q_kn_doc_ppl"](spark, sf_dir).collect()
    }
    sink = run_doc_ingest(
        spark, str(src), str(tmp_path / "out"), kn_model=model, kn_keep=keep_thr
    )
    streamed = {r.doc_id: r for r in sink.read_docs().collect()}
    rejected = {r.doc_id: r for r in sink.read_rejects().collect()}
    for doc_id, b in batch.items():
        toks = docs.loc[docs.doc_id == doc_id, "text"].iloc[0].strip().split()
        if len(toks) < MIN_WORDS:
            continue  # short-text pre-gate owns these
        got = streamed.get(doc_id) or rejected.get(doc_id)
        assert got is not None, doc_id
        assert got.avg_nll_kn == pytest.approx(b.avg_nll_kn, abs=2e-4), doc_id
        if abs(b.avg_nll_kn - keep_thr) < 1e-3:
            continue  # threshold-adjacent: either verdict is within ULP noise
        if b.keep:
            assert doc_id in streamed, doc_id
        else:
            assert doc_id in rejected, doc_id
            assert rejected[doc_id].reject_reason == "high_perplexity"


def test_doc_ingest_dsir_gate(spark, tmp_path):
    """The DSIR target-likeness gate end-to-end: train the hashed-ngram
    model on a half-English/half-German planted corpus (target = en), then
    stream one doc of each topic — the en-topic doc passes, the de-topic
    doc rejects as off_target (its buckets carry raw mass but zero target
    mass -> negative log-ratios), and the short-text pre-gate still wins
    on tiny docs."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from real_time_iot_data_engineering_pipeline_spark import registry
    from real_time_iot_data_engineering_pipeline_spark.queries.curation import (
        dsir_keep_threshold,
        dsir_model_table,
        dsir_unseen_lr,
        train_dsir,
    )

    registry.load_all()
    train = tmp_path / "train"
    train.mkdir()
    en = "the cat sat on the mat and purred softly all day"
    de = "der hund lief durch den park und bellte dabei laut"
    corpus = [en] * 5 + [de] * 5
    langs = ["en"] * 5 + ["de"] * 5
    pq_mod.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(corpus)), type=pa.int64()),
                "text": pa.array(corpus, type=pa.string()),
                "lang": pa.array(langs, type=pa.string()),
                "source": pa.array(["s"] * len(corpus), type=pa.string()),
                "n_chars": pa.array([len(t) for t in corpus], type=pa.int64()),
            }
        ),
        f"{train}/documents.parquet",
    )
    src = tmp_path / "src"
    src.mkdir()
    _write(
        str(src),
        "f1.json",
        [
            doc(1, en, "2024-01-19 10:00:00"),
            doc(2, de, "2024-01-19 10:00:05"),
            doc(3, "one two", "2024-01-19 10:00:10"),
        ],
        seq=1,
    )
    # Arm via the one-pass bundle, and pin it bit-identical to the three
    # separate calls it replaces (train_dsir shares one checkpointed
    # feature-count table; the values must not drift).
    model, unseen, thr = train_dsir(spark, str(train))
    sep_model = {
        r["bucket"]: r["lr_b"]
        for r in dsir_model_table(spark, str(train)).collect()
    }
    assert {r["bucket"]: r["lr_b"] for r in model.collect()} == sep_model
    assert unseen == dsir_unseen_lr(spark, str(train))
    assert thr == dsir_keep_threshold(spark, str(train))
    sink = run_doc_ingest(
        spark,
        str(src),
        str(tmp_path / "out"),
        dsir_model=model,
        dsir_unseen=unseen,
        dsir_min_logw=thr,
    )
    docs = {r.doc_id for r in sink.read_docs().collect()}
    rejects = {r.doc_id: r.reject_reason for r in sink.read_rejects().collect()}
    assert docs == {1}
    assert rejects[2] == "off_target"
    assert rejects[3] == "short_text"  # pre-gate wins before the DSIR fold


def test_stream_dsir_gate_agrees_with_batch_scorer(spark, tmp_path, sf_dir):
    """Cross-path consistency: streaming the fixture corpus through the
    DSIR gate armed with the batch model (dsir_model_table — UNROUNDED
    log-ratios) must reproduce every document's batch dsir_logw to within
    one 4 dp ulp (the stream folds the feature array sequentially; the
    batch sums per-(doc, bucket) n*lr partials — same formula,
    summation-order ULPs) and agree on every keep verdict not within
    noise of the threshold (modulo the short-text pre-gate)."""
    import json as _json

    import pyarrow.parquet as pq_mod

    from real_time_iot_data_engineering_pipeline_spark import registry
    from real_time_iot_data_engineering_pipeline_spark.queries.curation import (
        dsir_keep_threshold,
        dsir_model_table,
        dsir_unseen_lr,
    )
    from real_time_iot_data_engineering_pipeline_spark.streaming.doc_pipeline import (
        MIN_WORDS,
    )

    registry.load_all()
    docs = pq_mod.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "f1.json", "w") as f:
        for _, r in docs.iterrows():
            f.write(
                _json.dumps(
                    dict(doc_id=int(r.doc_id), text=r.text, source="wiki",
                         fetched_at="2024-01-19 10:00:00")
                )
                + "\n"
            )
    keep_thr = dsir_keep_threshold(spark, sf_dir)
    batch = {
        r.doc_id: r
        for r in registry.QUERIES["q_dsir_weights"](spark, sf_dir).collect()
    }
    sink = run_doc_ingest(
        spark,
        str(src),
        str(tmp_path / "out"),
        dsir_model=dsir_model_table(spark, sf_dir),
        dsir_unseen=dsir_unseen_lr(spark, sf_dir),
        dsir_min_logw=keep_thr,
    )
    streamed = {r.doc_id: r for r in sink.read_docs().collect()}
    rejected = {r.doc_id: r for r in sink.read_rejects().collect()}
    for doc_id, b in batch.items():
        toks = docs.loc[docs.doc_id == doc_id, "text"].iloc[0].strip().split()
        if len(toks) < MIN_WORDS:
            continue  # short-text pre-gate owns these
        got = streamed.get(doc_id) or rejected.get(doc_id)
        assert got is not None, doc_id
        assert got.dsir_logw == pytest.approx(b.dsir_logw, abs=2e-4), doc_id
        if abs(b.dsir_logw - keep_thr) < 1e-3:
            continue  # threshold-adjacent: either verdict is ULP noise
        if b.keep:
            assert doc_id in streamed, doc_id
        else:
            assert doc_id in rejected, doc_id
            assert rejected[doc_id].reject_reason == "off_target"


def test_doc_ingest_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume golden: the doc-ingest topology
    with BOTH quality gates armed must recover from a full query
    shutdown.  Run 1 drains the original doc and terminates; run 2 — a
    NEW AvailableNow query on the SAME checkpoint — sees a same-content
    replay (must stay silently dropped: only the RECOVERED
    dropDuplicatesWithinWatermark hash store knows it), an off-target
    doc (the re-armed DSIR gate must still reject), a shuffled-gibberish
    doc (the re-armed KN gate), and a fresh on-target doc (accepted).

    The two target sentences are STRUCTURALLY SYMMETRIC (same length,
    disjoint vocab, same repetition count in the training corpus), so
    their KN NLLs and DSIR log-weights are identical by construction and
    both sit inside the derived keep thresholds regardless of tie
    order."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from real_time_iot_data_engineering_pipeline_spark import registry
    from real_time_iot_data_engineering_pipeline_spark.queries.curation import (
        train_dsir,
    )
    from real_time_iot_data_engineering_pipeline_spark.queries.ranking import (
        kn_keep_threshold,
        kn_model_table,
    )

    registry.load_all()
    en_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    en_b = "lam mu nu xi omicron pi rho sigma tau upsilon"
    de = "der hund lief durch den park und bellte dabei laut"
    corpus = [en_a] * 2 + [en_b] * 2 + [de] * 6
    langs = ["en"] * 4 + ["de"] * 6
    train = tmp_path / "train"
    train.mkdir()
    pq_mod.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(corpus)), type=pa.int64()),
                "text": pa.array(corpus, type=pa.string()),
                "lang": pa.array(langs, type=pa.string()),
                "source": pa.array(["s"] * len(corpus), type=pa.string()),
                "n_chars": pa.array([len(t) for t in corpus], type=pa.int64()),
            }
        ),
        f"{train}/documents.parquet",
    )
    model, unseen, dsir_thr = train_dsir(spark, str(train))
    gates = dict(
        kn_model=kn_model_table(spark, str(train)),
        kn_keep=kn_keep_threshold(spark, str(train)),
        dsir_model=model,
        dsir_unseen=unseen,
        dsir_min_logw=dsir_thr,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")

    # --- run 1: original doc, then the query terminates (AvailableNow) --
    _write(str(src), "f1.json", [doc(1, en_a, "2024-01-19 10:00:00")], seq=0)
    sink = run_doc_ingest(spark, str(src), out, **gates)
    assert {r.doc_id for r in sink.read_docs().collect()} == {1}

    # --- run 2: NEW query, SAME checkpoint -----------------------------
    gibberish = "kappa alpha iota gamma eta beta theta delta zeta epsilon"
    _write(
        str(src),
        "f2.json",
        [
            doc(11, en_a, "2024-01-19 10:00:10"),  # content replay of 1
            doc(12, de, "2024-01-19 10:00:15"),  # off-target
            doc(13, gibberish, "2024-01-19 10:00:20"),  # unseen adjacencies
            doc(14, en_b, "2024-01-19 10:00:25"),  # fresh on-target
        ],
        seq=1,
    )
    sink = run_doc_ingest(spark, str(src), out, **gates)
    docs = {r.doc_id for r in sink.read_docs().collect()}
    rejects = {r.doc_id: r.reject_reason for r in sink.read_rejects().collect()}
    assert docs == {1, 14}, docs
    assert 11 not in docs and 11 not in rejects  # recovered dedup state
    assert rejects[12] == "off_target"  # DSIR gate re-armed after restart
    assert rejects[13] == "high_perplexity"  # KN gate re-armed
