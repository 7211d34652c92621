"""Streaming document ingest — the LLM-data tier's streaming story.

A corpus rarely arrives as a finished parquet table; it streams in from
crawlers/loaders.  This topology applies the tier's batch semantics
(queries/text.py) at ingest time:

    doc stream -> content-hash exact dedup WITHIN WATERMARK (the streaming
    twin of q_doc_dedup_exact's normalize+sha256) -> quality gate (minimum
    word count) [-> source-policy enrichment] [-> curation gates: Gopher
    repetition + heuristic quality score] -> accepted/rejected appends +
    one stats row per batch

Dedup state is bounded by the event-time watermark exactly like the IoT
pipeline's `dropDuplicatesWithinWatermark` (a crawler re-fetching the same
page minutes apart dedups; a legitimate re-publication past the horizon
re-enters — the right trade for unbounded crawls, and the only bounded-state
option at 100 TB).

Scale: the hash/gate are shuffle-free projections; dedup shuffles on the
uniform 256-bit content hash; appends are epoch-keyed (idempotent under
replay, same protocol as the router sink).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import WS as _WS
from ..sinks import micro_batch
from .launch import drain, start_query
from pyspark.sql import types as T

DOC_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("fetched_at", T.StringType()),  # ISO-8601; parsed below
    ]
)

DOC_WATERMARK_DELAY = "1 minute"
MIN_WORDS = 5  # quality gate: fewer words -> rejected
# LM-gate floor probability for bigrams absent from the broadcast KN model:
# -ln(1e-9) ~ 20.7 nats per unseen adjacency, far over any keep threshold —
# out-of-model adjacencies are gibberish evidence by design.
KN_P_FLOOR = "1e-9"
# Curation-gate thresholds: the repetition bound is the SAME constant as the
# batch q_repetition_filter (queries/curation.py DUP_TOKEN_MAX); the quality
# floor gates on the shared quality_score_col() formula (queries/text.py).
QUALITY_MIN = 0.3

# Static source-policy dimension for stream-static enrichment: license
# class, mixture weight, and an allow flag per source.  In production this
# is a small catalog table; sources absent from it are DENIED by default
# (an unknown crawler must not leak into the training corpus silently).
SOURCE_POLICY_SCHEMA = "source string, license string, mix_weight double, allowed boolean"
DEFAULT_SOURCE_POLICY = [
    ("curated", "permissive", 1.0, True),
    ("wiki", "permissive", 1.0, True),
    ("crawl", "mixed", 0.25, True),
    ("forum", "research-only", 0.1, True),
    ("paywalled", "restricted", 0.0, False),
]


def default_source_policy(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DEFAULT_SOURCE_POLICY, SOURCE_POLICY_SCHEMA)


def read_doc_file_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """JSONL document stream (file seam, same pattern as the event stream)."""
    return (
        spark.readStream.schema(DOC_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )


def ingest_doc_stream(
    raw: DataFrame,
    policy: DataFrame | None = None,
    with_curation_gates: bool = False,
    eval_grams: DataFrame | None = None,
    kn_model: DataFrame | None = None,
    kn_keep: float | None = None,
    dsir_model: DataFrame | None = None,
    dsir_unseen: float | None = None,
    dsir_min_logw: float | None = None,
) -> DataFrame:
    """Parse + watermark + content-hash dedup + quality flag, optionally
    followed by stream-static source-policy enrichment and the batch
    curation gates.

    The content hash is the SAME normalization as q_doc_dedup_exact
    (lowercase, trimmed, whitespace-collapsed -> sha256), so a document
    that would dedup in the batch pipeline dedups here too.

    When `policy` (a STATIC source-dimension DataFrame, see
    SOURCE_POLICY_SCHEMA) is given, the deduped stream is enriched via a
    stream-static BROADCAST left join on `source` — Structured Streaming
    re-plans the static side each micro-batch, so a catalog refresh is
    picked up without restarting the query, and the dimension rides with
    every executor instead of shuffling the stream.  Sources missing from
    the policy are DENIED by default.

    `with_curation_gates` applies the LLM-tier's batch filters at ingest
    time, reusing the batch formulas verbatim: the Gopher duplicate-token
    fraction against queries/curation.py's DUP_TOKEN_MAX and the heuristic
    quality score (queries/text.py::quality_score_col) against QUALITY_MIN.
    Both are pure per-row column expressions — no state, no extra shuffle —
    so the 100 TB ingest path curates at wire speed and only clean
    documents ever reach the (stateful, shuffling) downstream stages.

    `eval_grams` (a STATIC one-column DataFrame of md5 {NGRAM}-gram
    hashes, column `h` — the same hashes batch q_decontaminate builds)
    arms the GPT-3-style decontamination gate at ingest: the eval set is
    collapsed to ONE broadcast array row (it is benchmark-sized by
    nature) and each document's n-gram hashes are generated as an array
    expression checked with arrays_overlap — codegen only, no explode,
    no extra state, re-planned per micro-batch like the policy join so
    an eval-set refresh needs no restart.

    `kn_model` (a STATIC (w1, w2, p_kn) DataFrame — batch
    queries/ranking.py::kn_model_table, the UNROUNDED probabilities; the
    registered q_kn_bigram_lm output rounds to 4 dp for oracle hashing,
    which would distort -ln() of rare bigrams) arms the CCNet-style
    LM-perplexity gate:
    the model is collapsed to ONE broadcast map row (vocabulary^2-
    bounded; production swaps in a KenLM scorer UDF or a map-side join
    once the model outgrows a broadcast) and each document's mean
    bigram negative log-likelihood is computed as a pure aggregate
    expression over its token array — codegen only, no explode, no
    state.  Unseen bigrams score the {KN_P_FLOOR} floor (a stream doc
    was not in the training corpus, so out-of-model adjacencies are
    evidence of gibberish, the thing the gate exists to reject);
    documents over `kn_keep` nats reject as 'high_perplexity' —
    `kn_keep` is the batch-derived corpus-quantile threshold
    (queries/ranking.py::kn_keep_threshold), trained offline and shipped
    to the gate exactly as CCNet ships its per-language cutoffs.
    Tokenization (lower + shared WS class), the formula and the keep
    threshold are the batch operator's verbatim; scores agree with
    q_kn_doc_ppl up to summation-order ULPs (the stream folds a doc's
    bigrams sequentially, the batch merges shuffled partial sums —
    cross-path consistency is golden-tested at that grain in
    tests/test_doc_pipeline.py).

    `dsir_model` (a STATIC (bucket, lr_b) DataFrame — batch
    queries/curation.py::dsir_model_table, the UNROUNDED log-ratios)
    arms the DSIR target-likeness gate (Xie et al. 2023): the
    {DSIR_BUCKETS}-bucket hashed-ngram model collapses to ONE broadcast
    map row (O(buckets) by construction — the hashing trick exists so
    the selection model NEVER outgrows a broadcast), and each document's
    importance log-weight folds over its unigram+bigram feature array as
    a pure aggregate expression — codegen only, no explode, no state.
    Features hashing into buckets the training corpus never populated
    score `dsir_unseen` (the add-1-smoothed unseen-bucket log-ratio,
    batch curation.dsir_unseen_lr).  Documents under `dsir_min_logw`
    (the batch-derived corpus-quantile threshold,
    curation.dsir_keep_threshold) reject as 'off_target'.  The formula,
    hash recipe, and tokenization are the batch q_dsir_weights verbatim;
    cross-path agreement is golden-tested at the 4 dp grain.  As with
    the KN gate, the keep verdict is threshold-adjacent-nondeterministic
    across paths: the stream folds a document's features sequentially
    while the batch merges shuffled partial sums, so a document whose
    quantized logw sits within summation-order ULPs of `dsir_min_logw`
    can route differently batch-vs-stream (the cross-path test carves
    out |logw - thr| < 1e-3); gate consumers must not assume exact
    batch/stream agreement at the threshold boundary.

    Rejected rows carry a typed `reject_reason` ('short_text' |
    'blocked_source' | 'repetitive' | 'low_quality' | 'contaminated' |
    'high_perplexity' | 'off_target', first matching rule wins) for the
    DLQ; `accepted` is exactly reject_reason IS NULL."""
    parsed = (
        raw.withColumn("fetched_at", F.to_timestamp("fetched_at"))
        .filter(F.col("fetched_at").isNotNull())
        .filter(F.col("text").isNotNull())
    )
    normalized = F.lower(F.regexp_replace(F.trim("text"), _WS, " "))
    deduped = (
        parsed.withColumn("content_hash", F.sha2(normalized, 256))
        .withWatermark("fetched_at", DOC_WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    n_words = F.size(F.split(F.trim("text"), _WS))
    df = deduped.withColumn("n_words", n_words)
    rejects: list[tuple] = [(F.col("n_words") < MIN_WORDS, "short_text")]
    if policy is not None:
        allowed = F.coalesce(F.col("allowed"), F.lit(False))
        df = (
            df.join(F.broadcast(policy), "source", "left")
            .withColumn("license", F.coalesce(F.col("license"), F.lit("unknown")))
            .withColumn("mix_weight", F.coalesce(F.col("mix_weight"), F.lit(0.0)))
            .withColumn("allowed", allowed)
        )
        rejects.append((~F.col("allowed"), "blocked_source"))
    if with_curation_gates:
        from ..queries.curation import DUP_TOKEN_MAX
        from ..queries.text import (
            _WORDS_SPARK,
            quality_score_col,
            readability_cols,
        )

        toks = F.expr(_WORDS_SPARK)
        dup_frac = F.when(
            F.size(toks) > 0,
            1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
        ).otherwise(F.lit(1.0))
        df = (
            df.withColumn("_words", toks)
            .withColumn("n_chars", F.length(F.trim("text")))
            .withColumn("dup_token_frac", dup_frac)
            .withColumn("quality_score", quality_score_col())
            # readability is ANNOTATED, not gated: low Flesch means dense
            # prose, not garbage — downstream mixture weighting reads it
            .withColumn("flesch", readability_cols()["flesch"])
            .drop("_words")
        )
        rejects.append((F.col("dup_token_frac") > DUP_TOKEN_MAX, "repetitive"))
        rejects.append((F.col("quality_score") < QUALITY_MIN, "low_quality"))
    if eval_grams is not None:
        from ..queries.curation import gram_array_expr

        eval_row = eval_grams.agg(
            F.collect_set("h").alias("_eval_grams")
        )
        # tokens hoisted ONCE (linear work per doc); the gram recipe is the
        # shared helper q_eval_grams also builds its export from
        df = (
            df.withColumn("_gram_toks", F.split(F.trim("text"), _WS))
            .crossJoin(F.broadcast(eval_row))
            .withColumn(
                "contaminated",
                F.arrays_overlap(
                    F.expr(gram_array_expr("_gram_toks")),
                    F.col("_eval_grams"),
                ),
            )
            .drop("_eval_grams", "_gram_toks")
        )
        rejects.append((F.col("contaminated"), "contaminated"))
    if kn_model is not None:
        if kn_keep is None:
            raise ValueError(
                "kn_model requires kn_keep: the batch-derived corpus-"
                "quantile threshold (queries/ranking.kn_keep_threshold) "
                "— the stream cannot rank the corpus per row"
            )
        from ..functions.rounding import fround

        # One broadcast map row: "w1 w2" -> p_kn.  Tokens cannot contain a
        # space (they are WS-split), so the space-joined key is
        # collision-free.
        model_row = kn_model.agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.concat_ws(" ", "w1", "w2").alias("k"),
                        F.col("p_kn").alias("v"),
                    )
                )
            ).alias("_kn_map")
        )
        # Mean bigram NLL as one aggregate() expression over the lowered
        # token array — the batch q_kn_doc_ppl computation without the
        # explode (codegen-only, per-row, stateless).
        nll = F.expr(
            "aggregate(sequence(1, size(_kn_toks) - 1), CAST(0 AS DOUBLE),"
            " (acc, i) -> acc - ln(coalesce("
            f"   _kn_map[concat(_kn_toks[i - 1], ' ', _kn_toks[i])],"
            f"   CAST({KN_P_FLOOR} AS DOUBLE)))"
            ") / CAST(size(_kn_toks) - 1 AS DOUBLE)"
        )
        df = (
            df.withColumn("_kn_toks", F.split(F.trim(F.lower("text")), _WS))
            .crossJoin(F.broadcast(model_row))
            .withColumn(
                "avg_nll_kn",
                F.when(F.size("_kn_toks") >= 2, fround(nll, 4)),
            )
            .withColumn(
                "_kn_keep",
                F.when(
                    F.size("_kn_toks") >= 2,
                    fround(nll, 6) <= F.lit(float(kn_keep)),
                ).otherwise(F.lit(True)),
            )
            .drop("_kn_map", "_kn_toks")
        )
        rejects.append((~F.col("_kn_keep"), "high_perplexity"))
    if dsir_model is not None:
        if dsir_unseen is None or dsir_min_logw is None:
            raise ValueError(
                "dsir_model requires dsir_unseen (curation.dsir_unseen_lr)"
                " and dsir_min_logw (curation.dsir_keep_threshold) — both"
                " derived batch-side; the stream cannot rank the corpus"
                " per row"
            )
        from ..functions.rounding import fround_guarded
        from ..queries.curation import DSIR_BUCKET_SPARK, dsir_feat_array_expr

        model_row = dsir_model.agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "lr_b"))
            ).alias("_dsir_map")
        )
        logw = F.expr(
            f"aggregate({dsir_feat_array_expr('_dsir_toks')},"
            " CAST(0 AS DOUBLE),"
            f" (acc, f) -> acc + coalesce(_dsir_map[{DSIR_BUCKET_SPARK}],"
            f" CAST({dsir_unseen!r} AS DOUBLE)))"
        )
        df = (
            df.withColumn("_dsir_toks", F.split(F.trim(F.lower("text")), _WS))
            .crossJoin(F.broadcast(model_row))
            .withColumn("dsir_logw", fround_guarded(logw, 4))
            .withColumn(
                "_dsir_keep",
                fround_guarded(logw, 6) >= F.lit(float(dsir_min_logw)),
            )
            .drop("_dsir_map", "_dsir_toks")
        )
        rejects.append((~F.col("_dsir_keep"), "off_target"))
    reason = F.when(rejects[0][0], F.lit(rejects[0][1]))
    for cond, label in rejects[1:]:
        reason = reason.when(cond, F.lit(label))
    return df.withColumn("reject_reason", reason).withColumn(
        "accepted", F.col("reject_reason").isNull()
    )


class DocIngestSink:
    """foreachBatch body splitting accepted/rejected docs and appending one
    stats row per epoch — epoch-keyed directories, idempotent on replay."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    @micro_batch
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        epoch = int(epoch_id)
        accepted = batch_df.filter("accepted").drop("accepted")
        rejected = batch_df.filter(~F.col("accepted")).drop("accepted")
        accepted.write.mode("overwrite").parquet(
            os.path.join(self.root, "docs", f"epoch={epoch}")
        )
        if not rejected.isEmpty():
            rejected.write.mode("overwrite").parquet(
                os.path.join(self.root, "rejects", f"epoch={epoch}")
            )
        batch_df.agg(
            F.lit(epoch).alias("epoch"),
            F.count(F.lit(1)).alias("n_unique"),
            F.count(F.when(F.col("accepted"), 1)).alias("n_accepted"),
            F.count(F.when(~F.col("accepted"), 1)).alias("n_rejected"),
        ).write.mode("overwrite").parquet(
            os.path.join(self.root, "stats", f"epoch={epoch}")
        )

    def read_docs(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "docs", "epoch=*"))

    def read_rejects(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "rejects", "epoch=*"))

    def read_stats(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "stats", "epoch=*"))

    def read_near_dups(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "near_dup"))


def run_doc_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
    timeout_seconds: float = 180.0,
    policy: DataFrame | None = None,
    with_curation_gates: bool = False,
    eval_grams: DataFrame | None = None,
    kn_model: DataFrame | None = None,
    kn_keep: float | None = None,
    dsir_model: DataFrame | None = None,
    dsir_unseen: float | None = None,
    dsir_min_logw: float | None = None,
    with_near_dup: bool = False,
) -> DocIngestSink:
    """Drain source_dir through dedup -> gate [-> policy join]
    [-> curation gates] -> append with AvailableNow.

    `with_near_dup` runs the MinHash/LSH candidate-pair detector
    (streaming/near_dup.py) as a PARALLEL query over the same file
    source, appending pairs under out/near_dup.  A separate query rather
    than a chained stage: the ingest path already spends its one
    watermark on dropDuplicatesWithinWatermark, and chaining a second
    stateful operator behind it inherits late-filtering semantics that
    the near-dup bucket store should not (an exact-dup is DROPPED by the
    hash dedup, so the LSH stage would never see it — near-dup pairs and
    exact-dup suppression are different verdicts from the same wire)."""
    sink = DocIngestSink(spark, out_dir)
    stream = ingest_doc_stream(
        read_doc_file_stream(spark, source_dir, max_files_per_trigger),
        policy,
        with_curation_gates=with_curation_gates,
        eval_grams=eval_grams,
        kn_model=kn_model,
        kn_keep=kn_keep,
        dsir_model=dsir_model,
        dsir_unseen=dsir_unseen,
        dsir_min_logw=dsir_min_logw,
    )
    queries = [
        start_query(
            stream,
            os.path.join(out_dir, "ckpt"),
            max_files_per_trigger,
            foreach_batch=sink,
            name="doc-ingest",
        )
    ]
    if with_near_dup:
        from .near_dup import near_dup_stream

        raw = read_doc_file_stream(spark, source_dir, max_files_per_trigger)
        pairs = near_dup_stream(
            raw.withColumn("fetched_at", F.to_timestamp("fetched_at"))
            .filter(F.col("fetched_at").isNotNull())
            .filter(F.col("text").isNotNull()),
            ts_col="fetched_at",
            watermark=DOC_WATERMARK_DELAY,
        )
        queries.append(
            start_query(
                pairs,
                os.path.join(out_dir, "ckpt_near_dup"),
                max_files_per_trigger,
                path=os.path.join(out_dir, "near_dup"),
                name="doc-near-dup",
                mode="append",
            )
        )
    drain(queries, timeout_seconds)
    return sink
