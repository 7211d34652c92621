"""Lexical corpus statistics for LLM-data work: skip-gram co-occurrence
counts, a Zipf-law fit of the rank-frequency curve, and train/test n-gram
novelty.

These extend the corpus tier (queries/corpus.py: bigrams, PMI, sparse
cosine) with three statistics a tokenizer/data-mixing team derives next:
window-2 skip-grams are the word2vec-style co-occurrence table (wider
context than adjacent bigrams), the Zipf exponent summarizes how
heavy-tailed the vocabulary is (a drifting exponent flags corpus-mix
changes), and n-gram novelty measures how much of a held-out split's
text is genuinely unseen in training — the memorization/diversity readout
that complements q_decontaminate (which removes overlap, rather than
measuring it).

Tokenization is the shared explicit-whitespace class (ranking.WS_CLASS);
the split is the shared md5 doc-id bucketing (prep.SPLIT_TRAIN_PCT), so
every query in the LLM tier agrees on tokens and splits by construction.

Scale design:
- All n-gram expansion happens INSIDE the array domain (SQL lambdas /
  parallel-unnest zips) at scan stage — no posexplode self-joins, no
  alignment shuffles (the corpus.py pattern).
- The Zipf fit reduces the corpus to its top-K vocabulary with
  TakeOrderedAndProject before any window touches it — the only ordered
  window runs over K=1000 rows (constant), and the regression is a
  single partial-aggregated regr_slope/regr_r2 pass.
- Novelty anti-joins distinct test grams against distinct train grams on
  the gram key — two hash shuffles, both prunable; at 100 TB the gram
  string is replaced by xxhash64(gram) so the shuffle moves 8-byte keys
  (not implemented here because the two engines' 64-bit hashes differ;
  the oracle certifies the string form, the hash swap is plan-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import fround, fround_sql
from ..functions.tokenize import WS as _WS, WS_CHARS as _WS_CHARS
from ..registry import register
from ..sources import load_table
from .prep import SPLIT_TRAIN_PCT
from .ranking import WS_CLASS

_TOKS_ARR_SQL = f"""
    SELECT doc_id,
           string_split_regex(trim(lower(text)), '{WS_CLASS}') AS t
    FROM documents
    WHERE text IS NOT NULL
"""


def _tok_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), WS_CLASS).alias("t")
    )


# ---------------------------------------------------------------------------
# Window-2 skip-gram co-occurrence counts
# ---------------------------------------------------------------------------

SKIPGRAM_TOP_K = 50

# DuckDB parallel unnests zip positionally; split() tokens are never NULL,
# so filtering NULL partners removes exactly the tail padding (corpus.py
# bigram idiom, extended to the distance-2 partner).
_SKIPGRAM_SQL = f"""
    SELECT doc_id, w1, w2
    FROM (
        SELECT doc_id, unnest(t) AS w1, unnest(t[2:]) AS w2
        FROM ({_TOKS_ARR_SQL})
    ) WHERE w2 IS NOT NULL
    UNION ALL
    SELECT doc_id, w1, w2
    FROM (
        SELECT doc_id, unnest(t) AS w1, unnest(t[3:]) AS w2
        FROM ({_TOKS_ARR_SQL})
    ) WHERE w2 IS NOT NULL
"""


@register(
    "q_skipgram_pairs",
    oracle=f"""
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
    FROM ({_SKIPGRAM_SQL})
    GROUP BY w1, w2
    ORDER BY n DESC, w1, w2
    LIMIT {SKIPGRAM_TOP_K}
    """,
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{SKIPGRAM_TOP_K} skip-gram pairs within a 2-token forward window
    — the co-occurrence table a word2vec/GloVe-style embedding trainer
    consumes, one notch wider than q_bigram_topk's adjacent pairs.

    Both distances expand inside the array domain (one SQL lambda per
    offset, concatenated) in the scan stage; counts partial-aggregate
    map-side and the top-k terminates as TakeOrderedAndProject with
    (w1, w2) tiebreaks.  No self-join, no position alignment shuffle."""
    toks = _tok_arrays(spark, sf_dir)
    pair_expr = (
        "explode(concat("
        "  transform(slice(t, 1, greatest(size(t) - 1, 0)),"
        "            (x, i) -> struct(x AS w1, t[i + 1] AS w2)),"
        "  transform(slice(t, 1, greatest(size(t) - 2, 0)),"
        "            (x, i) -> struct(x AS w1, t[i + 2] AS w2))"
        "))"
    )
    return (
        toks.select(F.expr(pair_expr).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(SKIPGRAM_TOP_K)
    )


# ---------------------------------------------------------------------------
# Zipf-law fit of the rank-frequency curve
# ---------------------------------------------------------------------------

ZIPF_TOP_K = 1000


@register(
    "q_zipf_fit",
    oracle=f"""
    WITH uni AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS token FROM ({_TOKS_ARR_SQL}))
        GROUP BY token
        ORDER BY c DESC, token
        LIMIT {ZIPF_TOP_K}
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, token) AS r
        FROM uni
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           {fround_sql("-regr_slope(ln(CAST(c AS DOUBLE)),"
                       " ln(CAST(r AS DOUBLE)))", 4)} AS zipf_exponent,
           {fround_sql("regr_r2(ln(CAST(c AS DOUBLE)),"
                       " ln(CAST(r AS DOUBLE)))", 4)} AS r2
    FROM ranked
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-{ZIPF_TOP_K} vocabulary: the log-log OLS
    slope of frequency against rank (negated to the conventional positive
    exponent, ~1 for natural language) with its R².  A corpus whose
    exponent drifts between snapshots changed its mix — the one-number
    companion to q_heaps_law's growth curve and q_vocab_topk's raw list.

    Scale: unigram counts partial-aggregate map-side; the vocabulary cut
    is TakeOrderedAndProject (top-K by count with token tiebreak, never a
    full sort); the ONLY ordered window assigns ranks over K = {ZIPF_TOP_K}
    rows — constant, independent of corpus size — and the fit itself is
    one partial-aggregated regr_slope/regr_r2 pass over those K rows."""
    toks = _tok_arrays(spark, sf_dir)
    uni = (
        toks.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(ZIPF_TOP_K)
    )
    ranked = uni.select(
        "c",
        F.expr(
            "row_number() OVER (ORDER BY c DESC, token)"
        ).alias("r"),
    )
    ln_c = F.log(F.col("c").cast("double"))
    ln_r = F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        fround(-F.regr_slope(ln_c, ln_r), 4).alias("zipf_exponent"),
        fround(F.regr_r2(ln_c, ln_r), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Train/test n-gram novelty per source
# ---------------------------------------------------------------------------

NOVELTY_N = 5

_SPLIT_BUCKET_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"
)

# 5-gram stream via the parallel-unnest zip; tokens are never NULL so the
# w5 filter trims exactly the padding rows of documents shorter than n.
_GRAMS_SQL = f"""
    SELECT doc_id,
           w1 || ' ' || w2 || ' ' || w3 || ' ' || w4 || ' ' || w5 AS gram
    FROM (
        SELECT doc_id, unnest(t) AS w1, unnest(t[2:]) AS w2,
               unnest(t[3:]) AS w3, unnest(t[4:]) AS w4,
               unnest(t[5:]) AS w5
        FROM ({_TOKS_ARR_SQL})
    ) WHERE w5 IS NOT NULL
"""


@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH grams AS ({_GRAMS_SQL}),
    train AS (
        SELECT DISTINCT gram FROM grams
        WHERE {_SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PCT}
    ),
    test AS (
        SELECT DISTINCT d.source, g.gram
        FROM grams g JOIN documents d USING (doc_id)
        WHERE {_SPLIT_BUCKET_SQL} >= {SPLIT_TRAIN_PCT}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_test_grams,
           CAST(sum(CASE WHEN t2.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           {fround_sql(
               "sum(CASE WHEN t2.gram IS NULL THEN 1 ELSE 0 END)"
               " / CAST(count(*) AS DOUBLE)", 6)} AS novelty
    FROM test LEFT JOIN train t2 USING (gram)
    GROUP BY source
    ORDER BY source
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source {NOVELTY_N}-gram novelty of the held-out split: the
    fraction of the test split's distinct {NOVELTY_N}-grams that never
    appear in the train split.  Low novelty means the held-out data is
    largely memorizable from training text (eval contamination risk /
    low diversity); the measurement companion to q_decontaminate's
    removal and q_semantic_decontaminate's embedding form.

    The split reuses q_train_test_split's md5 doc-id buckets verbatim, so
    "train" here is exactly the corpus that pipeline would train on.

    Scale: grams expand in the array domain at scan stage; both sides
    reduce to DISTINCT gram sets (partial-aggregated hash shuffles keyed
    on the gram); the anti-semantics LEFT JOIN shuffles the same key, so
    all three exchanges co-partition.  At 100 TB the gram string is
    replaced by a 64-bit hash to shrink the shuffle (plan-identical; the
    string form is kept here because the engines' built-in 64-bit hashes
    differ and the oracle certifies values)."""
    toks = _tok_arrays(spark, sf_dir)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(slice(t, 1, greatest(size(t) - {NOVELTY_N - 1}, 0)),"
                " (x, i) -> concat_ws(' ', x, t[i + 1], t[i + 2],"
                " t[i + 3], t[i + 4]))"
            )
        ).alias("gram"),
    )
    bucket = F.expr(
        "cast(cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) "
        "AS bigint) % 100 AS int)"
    )
    # r13: the r12 single-pass rewrite (tag every gram row, ONE gram-keyed
    # collect_set aggregation, no anti-join) was REVERTED on interleaved
    # same-session measurements at both scales: sf0.1 mins 1.44 old vs
    # 1.72 new; 10x 8.5-9.5 old vs 15.0-16.3 new.  The collect_set
    # ObjectHashAggregate over the corpus-scale gram stream costs far more
    # than the two extra explode replays it saves — three
    # partial-aggregated hash shuffles on the gram key beat one
    # object-hash shuffle carrying set state.  The distinct+anti-join form
    # below is the keeper at both measured scales.
    grams = grams.withColumn("_b", bucket)
    train = (
        grams.filter(F.col("_b") < SPLIT_TRAIN_PCT).select("gram").distinct()
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    test = (
        grams.filter(F.col("_b") >= SPLIT_TRAIN_PCT)
        .join(src, "doc_id")
        .select("source", "gram")
        .distinct()
    )
    novel = test.join(train, "gram", "left_anti")
    n_test = test.groupBy("source").agg(
        F.count("*").cast("long").alias("n_test_grams")
    )
    n_novel = novel.groupBy("source").agg(
        F.count("*").cast("long").alias("n_novel")
    )
    return (
        n_test.join(n_novel, "source", "left")
        .select(
            "source",
            "n_test_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias(
                "n_novel"
            ),
            fround(
                F.coalesce(F.col("n_novel"), F.lit(0))
                / F.col("n_test_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix of label vs heuristic prediction
# ---------------------------------------------------------------------------

# Reuse q_lang_id's exact scoring/argmax so the confusion matrix evaluates
# THE registered detector, not a re-implementation that could drift.
from .text import _marker_score_duck  # noqa: E402
from .text import _MARKERS, _WORDS_DUCK, _WORDS_SPARK, _marker_score_spark

_DETECT_CASE_DUCK = """
    CASE
      WHEN score_en >= score_de AND score_en >= score_fr
           AND score_en >= score_es THEN 'en'
      WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
      WHEN score_fr >= score_es THEN 'fr'
      ELSE 'es' END
"""


@register(
    "q_lang_confusion",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_WORDS_DUCK} AS _words FROM documents
    ),
    scored AS (
        SELECT lang AS labeled_lang,
               {_marker_score_duck("en")} AS score_en,
               {_marker_score_duck("de")} AS score_de,
               {_marker_score_duck("fr")} AS score_fr,
               {_marker_score_duck("es")} AS score_es
        FROM toks
    ),
    pred AS (
        SELECT labeled_lang, {_DETECT_CASE_DUCK} AS detected_lang FROM scored
    ),
    cell AS (
        SELECT labeled_lang, detected_lang,
               CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY labeled_lang, detected_lang
    ),
    tot AS (
        SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS n_labeled
        FROM cell GROUP BY labeled_lang
    )
    SELECT cell.labeled_lang, detected_lang, n, n_labeled,
           {fround_sql("n / CAST(n_labeled AS DOUBLE)", 6)} AS recall
    FROM cell JOIN tot USING (labeled_lang)
    ORDER BY labeled_lang, detected_lang
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stored language label against q_lang_id's
    marker-word prediction, with per-label recall — the evaluation
    harness every heuristic labeler needs before it gates a corpus
    (companion to q_knn_classify's embedding-label evaluation).

    Reuses the detector's scoring expressions and argmax tie-break
    verbatim (imported, not copied), so the matrix can never evaluate a
    drifted twin of the deployed rule.

    Scale: scoring is a pure projection; the matrix is a partial agg
    onto a languages² domain (16 cells); recall joins the metadata-sized
    marginals back.  Embarrassingly parallel end to end."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_words", F.expr(_WORDS_SPARK)
    )
    scored = docs.select(
        F.col("lang").alias("labeled_lang"),
        *[
            F.expr(_marker_score_spark(lang)).cast("long").alias(f"score_{lang}")
            for lang in _MARKERS
        ],
    )
    detected = (
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr"))
            & (F.col("score_en") >= F.col("score_es")),
            F.lit("en"),
        )
        .when(
            (F.col("score_de") >= F.col("score_fr"))
            & (F.col("score_de") >= F.col("score_es")),
            F.lit("de"),
        )
        .when(F.col("score_fr") >= F.col("score_es"), F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    cell = (
        scored.select("labeled_lang", detected.alias("detected_lang"))
        .groupBy("labeled_lang", "detected_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cell.groupBy("labeled_lang").agg(
        F.sum("n").cast("long").alias("n_labeled")
    )
    return (
        cell.join(F.broadcast(tot), "labeled_lang")
        .select(
            "labeled_lang",
            "detected_lang",
            "n",
            "n_labeled",
            fround(F.col("n") / F.col("n_labeled").cast("double"), 6).alias(
                "recall"
            ),
        )
        .orderBy("labeled_lang", "detected_lang")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per source
# ---------------------------------------------------------------------------

_BPE_ISH = f"[A-Za-z0-9]+|[^A-Za-z0-9{_WS_CHARS}]"


@register(
    "q_tokenizer_fertility",
    oracle=rf"""
    WITH t AS (
        SELECT source,
               CAST(len(string_split_regex(trim(text), '{_WS}')) AS BIGINT)
                   AS ws,
               CAST(len(regexp_extract_all(text,
                   '{_BPE_ISH}')) AS BIGINT) AS bpe
        FROM documents
        WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           {fround_sql("sum(bpe) / CAST(sum(ws) AS DOUBLE)", 6)}
               AS corpus_fertility,
           {fround_sql("avg(bpe / CAST(ws AS DOUBLE))", 6)}
               AS mean_doc_fertility
    FROM t
    GROUP BY source
    ORDER BY source
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-ish pre-tokens produced per
    whitespace word (corpus-level ratio AND mean per-document ratio) —
    the standard "how expensive is this corpus to tokenize" readout that
    drives data-mixing cost models; a source whose fertility drifts got
    noisier (punctuation, code, digits).  Counts reuse q_token_count's
    two tokenizations.

    Scale: pure projection into two counters, partial-aggregated onto
    the sources domain — scan-bound, no shuffle beyond the tiny final
    agg."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = docs.select(
        "source",
        F.size(F.split(F.trim("text"), _WS)).cast("long").alias("ws"),
        F.regexp_count("text", F.lit(_BPE_ISH)).cast("long").alias("bpe"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            fround(
                F.sum("bpe") / F.sum("ws").cast("double"), 6
            ).alias("corpus_fertility"),
            fround(
                F.avg(F.col("bpe") / F.col("ws").cast("double")), 6
            ).alias("mean_doc_fertility"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cluster labeling: top TF-IDF keywords per embedding label
# ---------------------------------------------------------------------------

CLUSTER_TOP_TERMS = 5
# Drop ultra-common terms (docfreq above half the corpus) before scoring —
# the standard stoplist-free guard that keeps idf from manufacturing
# negative-weight noise.
_CK_MAX_DF_FRAC = 0.5


@register(
    "q_cluster_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(t) AS token FROM ({_TOKS_ARR_SQL})
    ),
    labeled AS (
        SELECT e.label, t.token
        FROM toks t JOIN embeddings e ON t.doc_id = e.vec_id
    ),
    n_docs AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        WHERE text IS NOT NULL
    ),
    df AS (
        SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks GROUP BY token
    ),
    tf AS (
        SELECT label, token, CAST(count(*) AS BIGINT) AS tf
        FROM labeled GROUP BY label, token
    ),
    scored AS (
        SELECT label, token, tf, df,
               tf * ln(CAST(n AS DOUBLE) / df) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n_docs
        WHERE df <= n * {_CK_MAX_DF_FRAC}
    ),
    ranked AS (
        SELECT label, token, tf, df,
               {fround_sql("score", 6)} AS tfidf,
               row_number() OVER (PARTITION BY label
                   ORDER BY {fround_sql("score", 9)} DESC, token) AS rnk
        FROM scored
    )
    SELECT label, CAST(rnk AS INT) AS rnk, token, tf, df, tfidf
    FROM ranked WHERE rnk <= {CLUSTER_TOP_TERMS}
    ORDER BY label, rnk
    """,
)
def q_cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling across modalities: the embedding table's `label`
    (the cluster assignment) joined back to each vector's DOCUMENT text
    (vec_id = doc_id), scored with cluster-level TF x corpus IDF, top-
    {CLUSTER_TOP_TERMS} keywords per cluster — the "what is this cluster
    about" readout every embedding-space exploration ends with
    (complements q_tfidf_topterms, which labels documents, not
    clusters).

    Scale: token explosion is scan-stage; DF and TF are partial aggs on
    the token (and label x token) keys; the rank window partitions by
    LABEL over that cluster's candidate terms and Catalyst executes the
    rank<=k filter as a map-side WindowGroupLimit, so no cluster's full
    vocabulary ever sorts in one task beyond its survivors.  Ranking
    uses the 9dp-quantized score (integer tf x one ln each — engine ULP
    differences ~1e-16) with a token tiebreak, so top-k membership is
    engine-stable."""
    toks = _tok_arrays(spark, sf_dir).select(
        "doc_id", F.explode("t").alias("token")
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .agg(F.count("*").cast("long").alias("n"))
    )
    df = toks.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    tf = (
        toks.join(emb, toks["doc_id"] == emb["vec_id"])
        .groupBy("label", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= F.col("n") * _CK_MAX_DF_FRAC)
        .select(
            "label",
            "token",
            "tf",
            "df",
            (
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        fround(F.col("score"), 9).desc(), "token"
    )
    return (
        scored.select(
            "label",
            F.row_number().over(w).alias("rnk"),
            "token",
            "tf",
            "df",
            fround(F.col("score"), 6).alias("tfidf"),
        )
        .filter(F.col("rnk") <= CLUSTER_TOP_TERMS)
        .orderBy("label", "rnk")
    )
