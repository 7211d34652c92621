"""Corpus ranking / LM-quality scoring over `documents` (beyond-reference
LLM-data tier): BM25 relevance ranking against a query-term set, and a
unigram-LM negative-log-likelihood quality filter (the shape of CCNet's
LM-perplexity filter, with the corpus's own unigram model standing in for
the external KenLM).

Scale design (both operators):
- Tokenization is one codegen split+explode pass; all downstream joins move
  (doc_id, token, count) rows — text never rides a shuffle.
- Vocabulary joins are plain equi-joins on token: AQE broadcasts the vocab
  when it is small (any Zipf-headed corpus after the term filter / min-df
  cut) and falls back to sort-merge for a web-scale vocabulary; nothing
  assumes the vocab fits on one executor.
- Scalar corpus statistics (N docs, avg doc length, total tokens) reduce to
  single-row aggregates and broadcast.
- BM25 prunes to the query terms BEFORE the (doc, token) aggregate, so the
  scored relation is |matched docs| x |terms|, not the full posting list;
  top-k terminates via TakeOrderedAndProject.

Cross-engine determinism: ln() may differ by 1 ulp between Java Math.log
and libm, and double summation order differs between engines, so ranking /
verdicts use scores quantized at 6 dp via fround (bias 1e-12 >> both error
sources) with doc_id as the total tiebreak — same protocol as
report.q_tfidf_topterms.  Shared double literals (K1, B, thresholds) are
spelled identically in both engines so the bit patterns match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fround, fround_sql
from ..registry import register
from ..sources import load_table

BM25_TERMS = ("spark", "stream", "join")
BM25_K = 20
# BM25 constants; K1P1 is a single literal (NOT 1.0+K1 — the sum rounds
# differently than the literal 2.2 in IEEE double, and both engines must
# see the same bits).
K1 = "1.2"
K1P1 = "2.2"
B = "0.75"
NLL_KEEP = "3.45"

_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# Explicit whitespace class instead of \s: Java regex \s includes \x0B but
# RE2's (DuckDB) does not, so the two engines would tokenize a document
# containing a vertical tab differently.  Round 9 promoted this fix to the
# shared functions/tokenize.py constant (literal control characters) and
# migrated every tokenization site in the repo onto it; the alias below
# keeps this module's historical name.
from ..functions.tokenize import WS as WS_CLASS

_TOKS_DUCK = f"""
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '{WS_CLASS}')) AS token
    FROM documents
"""


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), WS_CLASS)).alias("token"),
    )


@register(
    "q_bm25_rank",
    oracle=f"""
    WITH toks AS ({_TOKS_DUCK}),
    dl AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
    ),
    ndocs AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    adl AS (SELECT avg(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        FROM toks WHERE token IN ({_TERMS_SQL})
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    scored AS (
        SELECT tf.doc_id,
               CAST(count(*) AS BIGINT) AS n_terms,
               sum(
                   ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * {K1P1})
                   / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / a.avgdl))
               ) AS score
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id), ndocs n, adl a
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms,
           {fround_sql("score")} AS bm25
    FROM scored
    ORDER BY {fround_sql("score", 6)} DESC, doc_id
    LIMIT {BM25_K}
    """,
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_K} documents by BM25 relevance to the query terms
    {BM25_TERMS} (k1=1.2, b=0.75, idf = ln((N-df+.5)/(df+.5)+1)).

    Scale: the term filter lands immediately after the explode, so the
    (doc, token) aggregate only sees postings for the |query| terms; df
    derives from that filtered table (never re-reads text); doc length
    and the two scalar stats come from one extra token pass that
    partial-aggregates to one row per doc / one row total.  The final
    ranking is TakeOrderedAndProject over |matched docs| rows."""
    toks = _toks(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    ndocs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count("*").cast("double").alias("n_docs"))
    )
    adl = dl.agg(F.avg("dl").alias("avgdl"))
    tf = (
        toks.filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    k1, k1p1, b = (F.expr(f"CAST({s} AS DOUBLE)") for s in (K1, K1P1, B))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = (
        idf
        * (F.col("tf") * k1p1)
        / (
            F.col("tf")
            + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(df, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(ndocs))
        .crossJoin(F.broadcast(adl))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum(contrib).alias("score"),
        )
        .select(
            "doc_id",
            "n_terms",
            fround(F.col("score"), 4).alias("bm25"),
            fround(F.col("score"), 6).alias("_r"),
        )
        .orderBy(F.desc("_r"), F.asc("doc_id"))
        .limit(BM25_K)
        .drop("_r")
    )


@register(
    "q_unigram_ppl",
    oracle=f"""
    WITH toks AS ({_TOKS_DUCK}),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    vocab AS (
        SELECT token, CAST(sum(tf) AS DOUBLE) AS c FROM tf GROUP BY token
    ),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab),
    perdoc AS (
        SELECT tf.doc_id,
               CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
               sum(tf.tf * (0.0 - ln(v.c / s.t))) / sum(tf.tf) AS nll
        FROM tf JOIN vocab v USING (token), total s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_tokens,
           {fround_sql("nll")} AS avg_nll,
           {fround_sql("nll", 6)} <= {NLL_KEEP} AS keep
    FROM perdoc
    ORDER BY doc_id
    """,
)
def q_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: train a unigram model on the corpus
    itself (p(t) = count(t)/total), score every document by its mean
    token negative log-likelihood, and emit a keep verdict at
    avg_nll <= {NLL_KEEP} — the CCNet LM-filter shape (low nll = typical
    text, high nll = rare-token noise), with the corpus unigram model
    standing in for the external KenLM the container doesn't ship.

    Scale: the model "training" is ONE aggregate over the (doc, token)
    tf table (which partial-aggregates before its shuffle); scoring
    re-joins tf to the vocab on token — AQE broadcasts small vocabs,
    sort-merge otherwise — and reduces per doc.  Everything after the
    explode moves counts, never text.  The verdict compares the 6 dp
    quantized score so both engines agree at the threshold boundary."""
    tf = (
        _toks(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    vocab = tf.groupBy("token").agg(F.sum("tf").cast("double").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("t"))
    nll_t = F.lit(0.0) - F.log(F.col("c") / F.col("t"))
    perdoc = (
        tf.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (F.sum(F.col("tf") * nll_t) / F.sum("tf")).alias("nll"),
        )
    )
    return perdoc.select(
        "doc_id",
        "n_tokens",
        fround(F.col("nll"), 4).alias("avg_nll"),
        (fround(F.col("nll"), 6) <= F.expr(f"CAST({NLL_KEEP} AS DOUBLE)")).alias(
            "keep"
        ),
    ).orderBy("doc_id")


ENTROPY_MIN = "2.7"


@register(
    "q_token_entropy",
    oracle=f"""
    WITH toks AS ({_TOKS_DUCK}),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               ln(sum(tf)) - sum(tf * ln(tf)) / sum(tf) AS ent
        FROM tf
        GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           {fround_sql("ent")} AS entropy,
           {fround_sql("ent", 6)} >= {ENTROPY_MIN} AS diverse
    FROM perdoc
    ORDER BY doc_id
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy (Shannon, natural log)
    with a diversity verdict at entropy >= {ENTROPY_MIN} nats — the
    distributional-narrowness signal that complements the Gopher
    repetition filter (q_repetition_filter): a doc can pass the
    dup-token/bigram fractions yet still cycle a tiny vocabulary, which
    entropy catches directly.

    Scale: one explode pass reduces to (doc, token, tf); entropy then
    uses the identity H = ln(N) - sum(tf*ln(tf))/N so the whole metric
    is ONE further partial-aggregated groupBy on doc_id — no window, no
    share-computation shuffle, and text never rides an exchange.  Both
    engines evaluate the identical identity, and the verdict compares
    the 6 dp quantized entropy so they agree at the threshold."""
    tf = (
        _toks(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    perdoc = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        (
            F.log(F.sum("tf"))
            - F.sum(F.col("tf") * F.log("tf")) / F.sum("tf")
        ).alias("ent"),
    )
    return perdoc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        fround(F.col("ent"), 4).alias("entropy"),
        (fround(F.col("ent"), 6) >= F.expr(f"CAST({ENTROPY_MIN} AS DOUBLE)")).alias(
            "diverse"
        ),
    ).orderBy("doc_id")


# Interpolated bigram LM: p(w2|w1) = LAM*c12/c1 + (1-LAM)*c2/T.  String
# constants so both engines parse the identical double (decimal parsing is
# correctly rounded in Java and DuckDB alike).  Keep threshold calibrated
# to the fixture's NLL distribution (median 3.401, p75 3.416) so both
# verdicts occur.
LAM = "0.8"
LAM_REST = "0.2"
NLL2_KEEP = "3.41"


@register(
    "q_bigram_ppl",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '{WS_CLASS}') AS toks
        FROM documents
    ),
    bi AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2
        )
    ),
    uni AS (
        SELECT token, CAST(count(*) AS DOUBLE) AS c
        FROM (SELECT unnest(toks) AS token FROM toks) GROUP BY token
    ),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
    bic AS (
        SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
        FROM bi GROUP BY w1, w2
    ),
    perdoc AS (
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) + 1 AS n_tokens,
               avg(0.0 - ln({LAM} * bc.c12 / u1.c + {LAM_REST} * u2.c / s.t))
                   AS nll
        FROM bi b
        JOIN bic bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
        JOIN uni u1 ON u1.token = b.w1
        JOIN uni u2 ON u2.token = b.w2, tot s
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_tokens,
           {fround_sql("nll")} AS avg_nll2,
           {fround_sql("nll", 6)} <= {NLL2_KEEP} AS keep
    FROM perdoc
    ORDER BY doc_id
    """,
)
def q_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score: train bigram and unigram
    counts on the corpus itself, score every document by its mean
    next-token negative log-likelihood under
    p(w2|w1) = {LAM}*c(w1,w2)/c(w1) + {LAM_REST}*c(w2)/total, and keep
    documents scoring <= {NLL2_KEEP} nats.  The context-sensitive
    counterpart of q_unigram_ppl: a document whose words are individually
    common but whose ADJACENCIES are unusual (shuffled text, spliced
    fragments) passes the unigram filter and fails here — the same
    motivation as CCNet's KenLM stage, one order up.

    Scale: "training" is two partial-aggregating counts (bigram and
    unigram tables, both vocabulary-sized, tiny relative to the corpus);
    scoring joins each bigram instance to those count tables on their
    hash keys — AQE broadcasts vocabulary-sized sides — and reduces per
    doc.  After the explode only fixed-width token keys and counts move.
    Interpolation keeps every probability nonzero without smoothing
    hyperparameters, so no log-of-zero guards are needed anywhere."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.lower("text")), WS_CLASS).alias("toks")
    )
    bi = toks.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    uni = (
        toks.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("t"))
    bic = bi.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c12"))
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    lam = F.expr(f"CAST({LAM} AS DOUBLE)")
    lam_rest = F.expr(f"CAST({LAM_REST} AS DOUBLE)")
    nll_term = F.lit(0.0) - F.log(
        lam * F.col("c12") / F.col("c1") + lam_rest * F.col("c2") / F.col("t")
    )
    perdoc = (
        bi.join(bic, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            (F.count("*") + 1).cast("long").alias("n_tokens"),
            F.avg(nll_term).alias("nll"),
        )
    )
    return perdoc.select(
        "doc_id",
        "n_tokens",
        fround(F.col("nll"), 4).alias("avg_nll2"),
        (
            fround(F.col("nll"), 6) <= F.expr(f"CAST({NLL2_KEEP} AS DOUBLE)")
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets per language
# ---------------------------------------------------------------------------

CCNET_TILES = 3
_BUCKET_NAME_SQL = (
    "CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"
)


@register(
    "q_ccnet_buckets",
    oracle=f"""
    WITH toks AS ({_TOKS_DUCK}),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    vocab AS (
        SELECT token, CAST(sum(tf) AS DOUBLE) AS c FROM tf GROUP BY token
    ),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab),
    perdoc AS (
        SELECT tf.doc_id,
               sum(tf.tf * (0.0 - ln(v.c / s.t))) / sum(tf.tf) AS nll
        FROM tf JOIN vocab v USING (token), total s
        GROUP BY tf.doc_id
    ),
    langd AS (
        SELECT p.doc_id, d.lang, {fround_sql("p.nll", 6)} AS nll_q, p.nll
        FROM perdoc p JOIN documents d USING (doc_id)
    ),
    tiled AS (
        SELECT lang, nll,
               ntile({CCNET_TILES}) OVER (
                   PARTITION BY lang ORDER BY nll_q, doc_id
               ) AS tile
        FROM langd
    )
    SELECT lang, {_BUCKET_NAME_SQL} AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           {fround_sql("avg(nll)")} AS avg_nll,
           {fround_sql("min(nll)", 6)} AS min_nll,
           {fround_sql("max(nll)", 6)} AS max_nll
    FROM tiled
    GROUP BY lang, {_BUCKET_NAME_SQL}
    ORDER BY lang, bucket
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split (Wenzek et al. 2020 §3.3): per
    language, rank documents by LM score (the corpus-unigram nll standing
    in for KenLM, as in q_unigram_ppl) and cut into {CCNET_TILES} equal
    tiles — head = most-typical text kept unconditionally, tail = the
    candidate-discard stratum; reported as per-(lang, tile) stats.

    Scale: the nll scoring is the q_unigram_ppl plan (tf partial-aggs,
    token-keyed vocab join, text never shuffles).  The per-language
    ranking uses the adaptive two-phase bucketed rank
    (functions/prefix.py::grouped_bucketed_row_number) above the scale
    switch — per-(lang, value-bucket) local sorts plus broadcast offsets,
    bit-identical to the partitioned window it replaces — because
    PARTITION BY lang alone sorts each language's entire corpus in ONE
    task at 100 TB.  Ranks order by the 6 dp-quantized score with doc_id
    tiebreak, so tile boundaries are engine-exact; ntile is computed
    arithmetically from the rank (prefix.ntile_from_rank)."""
    from ..functions.prefix import grouped_bucketed_row_number, ntile_from_rank
    from ..sources.tables import is_large_input

    tf = (
        _toks(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    vocab = tf.groupBy("token").agg(F.sum("tf").cast("double").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("t"))
    nll_t = F.lit(0.0) - F.log(F.col("c") / F.col("t"))
    perdoc = (
        tf.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg((F.sum(F.col("tf") * nll_t) / F.sum("tf")).alias("nll"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    langd = perdoc.join(docs, "doc_id").withColumn(
        "nll_q", fround(F.col("nll"), 6)
    )
    ranked = grouped_bucketed_row_number(
        langd,
        ["lang"],
        "nll_q",
        ["doc_id"],
        rank_col="rk",
        bucketed=is_large_input(sf_dir, "documents"),
    )
    counts = ranked.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    tiled = ranked.join(F.broadcast(counts), "lang").withColumn(
        "tile", ntile_from_rank(F.col("rk"), F.col("n"), CCNET_TILES)
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiled.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            fround(F.avg("nll")).alias("avg_nll"),
            fround(F.min("nll"), 6).alias("min_nll"),
            fround(F.max("nll"), 6).alias("max_nll"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM (the KenLM smoothing CCNet actually ships)
# ---------------------------------------------------------------------------

# Absolute discount, Kneser & Ney 1995's fixed-D variant (Chen & Goodman
# 1998 eq. 4.26 with one discount).  0.75 is the literature default and is
# exactly representable in binary, so both engines subtract the identical
# double.
KN_D = "0.75"

# Shared token/bigram derivation (identical to q_bigram_ppl's corpus).
_KN_BI_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '{WS_CLASS}') AS toks
        FROM documents
    ),
    bi AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM toks WHERE len(toks) >= 2
        )
    )
"""

_KN_MODEL_SQL = f"""
    bic AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM bi GROUP BY w1, w2
    ),
    ctx AS (
        SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1,
               CAST(count(*) AS DOUBLE) AS n1p_right
        FROM bic GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(count(*) AS DOUBLE) AS n1p_left
        FROM bic GROUP BY w2
    ),
    types AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM bic),
    model AS (
        SELECT bic.w1, bic.w2, bic.c12,
               (bic.c12 - {KN_D}) / ctx.c1
                 + ({KN_D} * ctx.n1p_right / ctx.c1)
                   * (cont.n1p_left / types.n_types) AS p_kn
        FROM bic
        JOIN ctx ON ctx.w1 = bic.w1
        JOIN cont ON cont.w2 = bic.w2
        CROSS JOIN types
    )
"""


def kn_model_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNROUNDED (w1, w2, c12, p_kn) Kneser-Ney model — what a consumer
    that does further arithmetic (the streaming perplexity gate, a sampler)
    must read: q_kn_bigram_lm's registered output rounds p_kn to 4 dp for
    oracle hashing, and -ln() of a 4 dp probability is off by up to 100%
    relative for rare bigrams (p ~ 1e-4)."""
    return _kn_model(spark, sf_dir)[1]


def _kn_model(spark: SparkSession, sf_dir: str):
    """(bigram instances, KN model) DataFrames — the shared derivation for
    the model-table query and the per-document scorer."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.lower("text")), WS_CLASS).alias("toks")
    )
    bi = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    bic = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    ctx = bic.groupBy("w1").agg(
        F.sum("c12").cast("double").alias("c1"),
        F.count("*").cast("double").alias("n1p_right"),
    )
    cont = bic.groupBy("w2").agg(F.count("*").cast("double").alias("n1p_left"))
    types = bic.agg(F.count("*").cast("double").alias("n_types"))
    d = F.expr(f"CAST({KN_D} AS DOUBLE)")
    p_kn = (F.col("c12") - d) / F.col("c1") + (
        d * F.col("n1p_right") / F.col("c1")
    ) * (F.col("n1p_left") / F.col("n_types"))
    model = (
        bic.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select("w1", "w2", "c12", p_kn.alias("p_kn"))
    )
    return bi, model


@register(
    "q_kn_bigram_lm",
    oracle=f"""
    {_KN_BI_SQL},
    {_KN_MODEL_SQL}
    SELECT w1, w2, c12, {fround_sql("p_kn")} AS p_kn
    FROM model
    """,
)
def q_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram model table: for every observed bigram,
    p_kn(w2|w1) = (c12 - D)/c1 + D * N1+(w1,.)/c1 * N1+(.,w2)/N1+(.,.)
    with fixed discount D = {KN_D} — the smoothing KenLM implements and
    CCNet's quality stage scores with.  The continuation factor is what
    distinguishes it from q_bigram_ppl's count interpolation: a word that
    appears often but only ever after ONE context ("francisco") gets a
    LOW continuation probability even though its raw unigram count is
    high, so spliced/boilerplate text can't buy probability mass with
    frequent-but-frozen collocations.

    Seen bigrams have c12 >= 1 > D, so the discounted term is positive
    and no max(,0) guard is needed; all inputs to the formula are exact
    integer counts cast to double, making the expression IEEE-identical
    across engines before the single 4 dp rounding.

    Scale: three partial-aggregating counts over the bigram-type table
    (vocabulary^2-bounded, tiny next to the corpus) + two hash joins on
    word keys + one 1-row broadcast; token text rides only the first
    explode's shuffle as fixed-width dictionary-encoded strings."""
    _, model = _kn_model(spark, sf_dir)
    return model.select("w1", "w2", "c12", fround(F.col("p_kn"), 4).alias("p_kn"))


# Keep FRACTION for the KN scorer: the gate keeps the lowest-NLL
# KN_KEEP_FRAC of the corpus (CCNet keeps head+middle = 2/3 of each
# language's perplexity ranking, Wenzek et al. 2020 §3.3).  The nats
# threshold is DERIVED from the corpus NLL distribution in-query — the
# k-th smallest 6 dp-quantized score, k = ceil(n * frac) — so the gate is
# scale-portable instead of pinned to a fixture-calibrated constant.
# Spelled as one literal expression evaluated
# identically by both engines.
KN_KEEP_FRAC = "2.0 / 3.0"

_KN_PERDOC_SQL = f"""
    perdoc AS (
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) + 1 AS n_tokens,
               avg(0.0 - ln(m.p_kn)) AS nll
        FROM bi b
        JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
        GROUP BY b.doc_id
    ),
    p2 AS (
        SELECT doc_id, n_tokens, nll, {fround_sql("nll", 6)} AS nll_q
        FROM perdoc
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p2),
    ranked AS (
        SELECT nll_q, row_number() OVER (ORDER BY nll_q, doc_id) AS rk
        FROM p2
    ),
    thr AS (
        SELECT r.nll_q AS thr
        FROM ranked r, nn
        WHERE r.rk = CAST(ceil(nn.n * ({KN_KEEP_FRAC})) AS BIGINT)
    )
"""


def _kn_perdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, nll, nll_q) under the KN model — shared by the
    registered scorer and kn_keep_threshold.

    Every consumer fans this table into multiple legs (the derived-
    threshold rank, the corpus-count aggregate, and the final keep
    select), so without materialization each leg's lineage re-runs the
    whole bigram explode + model build — the r10 threshold derivation
    made q_kn_doc_ppl 2.3x its bench baseline (0.94 -> 2.19 s; 1.60 s
    with this checkpoint).  EAGER localCheckpoint, not .persist():
    checkpoint blocks are ContextCleaner-released when the plan is GC'd
    (the q_cc_incremental `pairs` pattern, queries/text.py)."""
    bi, model = _kn_model(spark, sf_dir)
    perdoc = (
        bi.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            (F.count("*") + 1).cast("long").alias("n_tokens"),
            F.avg(F.lit(0.0) - F.log("p_kn")).alias("nll"),
        )
    )
    return perdoc.withColumn("nll_q", fround(F.col("nll"), 6)).localCheckpoint(
        eager=True
    )


def _kn_threshold_df(spark: SparkSession, sf_dir: str, perdoc: DataFrame) -> DataFrame:
    """One-row (thr) DataFrame: the k-th smallest quantized corpus NLL,
    k = ceil(n * KN_KEEP_FRAC) — the derived keep threshold.  The global
    rank routes through the adaptive bucketed decomposition above the
    scale switch (functions/prefix.py), so no single task ever sorts the
    whole corpus; below it the plain window wins."""
    from ..functions.prefix import bucketed_row_number
    from ..sources.tables import is_large_input

    ranked = bucketed_row_number(
        perdoc.select("nll_q", "doc_id"),
        "nll_q",
        ["doc_id"],
        bucketed=is_large_input(sf_dir, "documents"),
    )
    n = perdoc.agg(F.count("*").cast("double").alias("_n"))
    return (
        ranked.join(F.broadcast(n))
        .filter(
            F.col("rk")
            == F.ceil(F.col("_n") * F.expr(KN_KEEP_FRAC)).cast("long")
        )
        .select(F.col("nll_q").alias("thr"))
    )


def kn_keep_threshold(spark: SparkSession, sf_dir: str) -> float:
    """The derived keep threshold as a scalar — what a serving/streaming
    gate broadcasts (the stream can't rank the corpus per row; CCNet
    likewise trains its cutoffs offline and ships them to the filter)."""
    perdoc = _kn_perdoc(spark, sf_dir)
    return float(_kn_threshold_df(spark, sf_dir, perdoc).first()["thr"])


@register(
    "q_kn_doc_ppl",
    oracle=f"""
    {_KN_BI_SQL},
    {_KN_MODEL_SQL},
    {_KN_PERDOC_SQL}
    SELECT doc_id, n_tokens,
           {fround_sql("nll")} AS avg_nll_kn,
           p2.nll_q <= thr.thr AS keep
    FROM p2, thr
    """,
)
def q_kn_doc_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the Kneser-Ney bigram model — the
    engine's CCNet-faithful quality filter (CCNet scores Common Crawl
    with a KenLM model and keeps the low-perplexity head; q_ccnet_buckets
    reuses this family's NLL for the head/middle/tail split).  Documents
    score the mean negative log-likelihood of their bigrams under
    q_kn_bigram_lm's model (trained on the corpus itself, so every scored
    bigram is in the model and no backoff-to-unseen path is needed);
    keep = the lowest-NLL {KN_KEEP_FRAC} of the corpus, via the DERIVED
    threshold (k-th smallest 6 dp-quantized score, ties inclusive) rather
    than a fixture-pinned constant.

    Scale: the scoring is q_bigram_ppl's plan — vocabulary-sized model
    joins (AQE broadcasts them when measured small) + one per-doc reduce;
    the threshold adds one adaptive global rank (bucketed above the scale
    switch), a 1-row aggregate, and a 1-row broadcast back over the
    per-doc table."""
    perdoc = _kn_perdoc(spark, sf_dir)
    thr = _kn_threshold_df(spark, sf_dir, perdoc)
    return perdoc.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tokens",
        fround(F.col("nll"), 4).alias("avg_nll_kn"),
        (F.col("nll_q") <= F.col("thr")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of the BM25 relevance ranking and the LM quality
# ranking (Cormack, Clarke & Buettcher, SIGIR 2009)
# ---------------------------------------------------------------------------

# The standard RRF smoothing constant (k = 60 in the paper's experiments)
# and the fused result size.  Spelled as literals shared by both engines.
RRF_C = "60.0"
RRF_TOPK = 25

_RRF_SCORED_SQL = f"""
    toks AS ({_TOKS_DUCK}),
    tf0 AS (
        SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    vocab AS (
        SELECT token, CAST(sum(tf) AS DOUBLE) AS c FROM tf0 GROUP BY token
    ),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab),
    lm AS (
        SELECT doc_id,
               sum(tf0.tf * (0.0 - ln(v.c / s.t))) / sum(tf0.tf) AS nll
        FROM tf0 JOIN vocab v USING (token), total s
        GROUP BY doc_id
    ),
    lmrank AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY {fround_sql("nll", 6)}, doc_id
               ) AS lm_rank
        FROM lm
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id
    ),
    ndocs AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    adl AS (SELECT avg(dl) AS avgdl FROM dl),
    btf AS (
        SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
        FROM toks WHERE token IN ({_TERMS_SQL})
        GROUP BY doc_id, token
    ),
    bdf AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM btf GROUP BY token),
    bscored AS (
        SELECT btf.doc_id,
               sum(
                   ln((n.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
                   * (btf.tf * {K1P1})
                   / (btf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / a.avgdl))
               ) AS score
        FROM btf
        JOIN bdf USING (token)
        JOIN dl USING (doc_id), ndocs n, adl a
        GROUP BY btf.doc_id
    ),
    bmrank AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY {fround_sql("score", 6)} DESC, doc_id
               ) AS bm25_rank
        FROM bscored
    ),
    fused AS (
        SELECT l.doc_id,
               l.lm_rank,
               coalesce(b.bm25_rank, 0) AS bm25_rank,
               1.0 / ({RRF_C} + l.lm_rank)
                   + coalesce(1.0 / ({RRF_C} + b.bm25_rank), 0.0) AS rrf
        FROM lmrank l LEFT JOIN bmrank b USING (doc_id)
    )
"""


@register(
    "q_rrf_fusion",
    oracle=f"""
    WITH {_RRF_SCORED_SQL}
    SELECT doc_id, CAST(lm_rank AS BIGINT) AS lm_rank,
           CAST(bm25_rank AS BIGINT) AS bm25_rank,
           {fround_sql("rrf", 6)} AS rrf
    FROM fused
    ORDER BY {fround_sql("rrf", 6)} DESC, doc_id
    LIMIT {RRF_TOPK}
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval systems over the corpus —
    BM25 relevance to {BM25_TERMS} (q_bm25_rank's scorer) and the unigram
    LM quality ranking (q_unigram_ppl's nll, ascending) — via the SIGIR'09
    formula rrf(d) = sum_s 1/({RRF_C} + rank_s(d)), the standard way a RAG
    stack merges lexical and model-based rankings without score
    calibration.  Documents missing from a system contribute nothing for
    it (bm25_rank reported as 0); top {RRF_TOPK} by fused score.

    Cross-engine determinism is structural: ranks are exact integers
    (quantized-score ordering with doc_id tiebreak), each reciprocal is
    one exact-rounded division, and the two-term sum has a fixed spelling,
    so both engines see identical doubles before the final rounding.

    Scale: both rankings route through the adaptive bucketed global rank
    (functions/prefix.py) above the scale switch — no single-task corpus
    sort; the BM25 side prunes to query-term postings before its
    aggregate; the fusion join is doc_id-keyed; the final top-k is
    TakeOrderedAndProject."""
    from ..functions.prefix import bucketed_row_number
    from ..sources.tables import is_large_input

    big = is_large_input(sf_dir, "documents")
    toks = _toks(spark, sf_dir)
    tf0 = toks.groupBy("doc_id", "token").agg(
        F.count("*").cast("double").alias("tf")
    )
    vocab = tf0.groupBy("token").agg(F.sum("tf").cast("double").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("t"))
    nll_t = F.lit(0.0) - F.log(F.col("c") / F.col("t"))
    lm = (
        tf0.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg((F.sum(F.col("tf") * nll_t) / F.sum("tf")).alias("nll"))
        .withColumn("nll_q", fround(F.col("nll"), 6))
    )
    lmrank = bucketed_row_number(
        lm.select("nll_q", "doc_id"),
        "nll_q",
        ["doc_id"],
        rank_col="lm_rank",
        bucketed=big,
    ).select("doc_id", "lm_rank")
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("double").alias("dl"))
    ndocs = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count("*").cast("double").alias("n_docs"))
    )
    adl = dl.agg(F.avg("dl").alias("avgdl"))
    btf = (
        toks.filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    bdf = btf.groupBy("token").agg(F.count("*").cast("double").alias("df"))
    k1, k1p1, b = (F.expr(f"CAST({s} AS DOUBLE)") for s in (K1, K1P1, B))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = (
        idf
        * (F.col("tf") * k1p1)
        / (
            F.col("tf")
            + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    bscored = (
        btf.join(bdf, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(ndocs))
        .crossJoin(F.broadcast(adl))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
        .withColumn("score_q", fround(F.col("score"), 6))
    )
    bmrank = bucketed_row_number(
        bscored.select("score_q", "doc_id"),
        "score_q",
        ["doc_id"],
        descending=True,
        rank_col="bm25_rank",
        bucketed=big,
    ).select("doc_id", "bm25_rank")
    c = F.expr(f"CAST({RRF_C} AS DOUBLE)")
    fused = lmrank.join(bmrank, "doc_id", "left").select(
        "doc_id",
        F.col("lm_rank").cast("long").alias("lm_rank"),
        F.coalesce(F.col("bm25_rank"), F.lit(0)).cast("long").alias("bm25_rank"),
        (
            F.lit(1.0) / (c + F.col("lm_rank"))
            + F.coalesce(
                F.lit(1.0) / (c + F.col("bm25_rank")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    return (
        fused.select(
            "doc_id",
            "lm_rank",
            "bm25_rank",
            fround(F.col("rrf"), 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOPK)
    )
