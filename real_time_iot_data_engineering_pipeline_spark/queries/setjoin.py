"""Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin
family, Bayardo et al. WWW'07 / Xiao et al. WWW'08 / Vernica et al.
SIGMOD'10) — the LOSSLESS counterpart of the probabilistic candidate
generators already in the engine (MinHash-LSH bands in queries/text.py,
min-shingle anchors in q_doc_ngram_jaccard).  Where LSH trades recall for
cost, the prefix filter guarantees 100% recall at Jaccard >= TAU while
never building an all-pairs product:

1. Token sets: distinct 3-word shingles per document (word SETS are
   degenerate on any corpus with a shared vocabulary — on the fixture
   they mark >half of all pairs similar — while shingles encode word
   order; same tokenization as the MinHash path, so the two candidate
   generators are directly comparable), hashed to 60-bit ints (portable
   md5 prefix, the house anchor idiom) immediately after the explode so
   no downstream shuffle ever moves shingle text.
2. Global token order: ascending document frequency, ties by token hash
   — rare tokens first, so prefixes index on the most selective tokens.
3. Prefix: the first  p = n - ceil(TAU * n) + 1  tokens of each doc's
   set under that order.  Two sets with Jaccard >= TAU MUST share at
   least one prefix token (pigeonhole on the overlap lower bound
   ceil(TAU * n)), so joining prefixes on token loses nothing.
4. Length filter: 10*|small| >= TAU_NUM*|large| (necessary for J >= TAU),
   applied inside the candidate join in exact integer arithmetic.
5. Verification: per-doc sorted arrays of hashed shingles join to the
   candidate pairs once each; the exact intersection size is
   array_intersect/list_intersect inside codegen (the
   q_doc_ngram_jaccard verification idiom — O(|a|+|b|) per pair, no
   posting-list re-join, no wide groupBy).  Membership is the
   exact-integer test (10+TAU_NUM)*c >= TAU_NUM*(n_a+n_b), algebra for
   c/(n_a+n_b-c) >= TAU — no float comparison decides a row.

Scale posture: df and per-doc ordering are token-keyed / doc-keyed
partial aggregates and a doc-partitioned window (never a global sort);
the candidate join is an equi-join on RARE tokens, whose postings are
short by construction (df ordering makes every prefix token's posting
list the tail of the Zipf curve); verification touches candidate pairs
only, moving one <=n*8-byte hash array per side — the same order as the
MinHash family's 256-byte signatures.  Candidate volume scales with the
square of the prefix fraction (1-TAU), which is why the operator runs at
the dedup-grade TAU=0.8 rather than a permissive 0.6: measured on the
sf1 fixture, TAU=0.6 with posting-list verification generated 2.2M
candidate pairs and a 34 s wall; TAU=0.8 with array verification runs
the same fixture in 9.9 s.

Losslessness on the fixture is asserted by tests/test_setjoin.py, which
compares against an unfiltered brute-force twin (same protocol as
q_name_linkage's blocking proof).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import fround, fround_sql
from ..registry import register
from .text import _NEAR_CORPUS_SQL, _SHINGLES_DUCK, _WORDS_DUCK, _near_corpus, _shingle_rows

# Jaccard threshold as an exact rational TAU_NUM/10 (0.8): all pruning and
# membership tests below are integer arithmetic derived from it, so the two
# engines can never disagree at a boundary.
TAU_NUM = 8

# prefix length p = n - ceil(TAU*n) + 1, with ceil(8n/10) == (8n + 9) // 10
# as exact integers.
_PREFIX_LEN_DUCK = f"(n - (({TAU_NUM} * n + 9) // 10) + 1)"
_PREFIX_LEN_SPARK = f"(n - (({TAU_NUM} * n + 9) div 10) + 1)"

# Hashed distinct shingle rows; both engines hash identically, so "exact"
# is exact modulo md5-prefix collisions (~2^-60/pair), the same caveat the
# MinHash family already carries.
_TOKS_DUCK = f"""
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(s), 1, 15))::BIGINT AS token
    FROM (
        SELECT doc_id, unnest(_shingles) AS s FROM (
            SELECT doc_id, {_SHINGLES_DUCK} AS _shingles FROM (
                SELECT doc_id, {_WORDS_DUCK} AS _words FROM corpus
            )
        )
    )
"""


@register(
    "q_jaccard_setjoin",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    toks AS ({_TOKS_DUCK}),
    df AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
    sets AS (
        SELECT doc_id, list_sort(list(token)) AS toks_arr, count(*) AS n
        FROM toks GROUP BY doc_id
    ),
    ranked AS (
        SELECT t.doc_id, t.token, s.n,
               row_number() OVER (
                   PARTITION BY t.doc_id ORDER BY d.df, t.token
               ) AS pos
        FROM toks t JOIN df d USING (token) JOIN sets s USING (doc_id)
    ),
    pref AS (
        SELECT doc_id, token, n FROM ranked
        WHERE pos <= {_PREFIX_LEN_DUCK}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.token = b.token AND a.doc_id < b.doc_id
        WHERE 10 * least(a.n, b.n) >= {TAU_NUM} * greatest(a.n, b.n)
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b, sa.n AS n_a, sb.n AS n_b,
               len(list_intersect(sa.toks_arr, sb.toks_arr)) AS n_common
        FROM cand c
        JOIN sets sa ON sa.doc_id = c.doc_a
        JOIN sets sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(n_common AS BIGINT) AS n_common,
           {fround_sql("n_common / CAST(n_a + n_b - n_common AS DOUBLE)")}
               AS jaccard
    FROM verified
    WHERE {10 + TAU_NUM} * n_common >= {TAU_NUM} * (n_a + n_b)
    """,
)
def q_jaccard_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs of documents with 3-gram-shingle-set Jaccard >= 0.8,
    found EXACTLY (guaranteed 100% recall) via the prefix-filter
    similarity join — the deterministic alternative to the MinHash-LSH
    candidate path for corpora where missing a duplicate has real cost
    (eval-set hygiene, licensing dedup).  The planted truncated near-dups
    (doc_id + 200000) surface whenever the original has >= 12 words:
    dropping the last two words removes exactly two shingles, so Jaccard
    is (k-2)/k over k = n_words - 2 shingles, above the 0.8 bar from
    k >= 10.

    Scale: candidate generation joins PREFIX postings only — each doc
    contributes its (1 - tau) rarest tokens under the global
    df-ascending order, so the postings joined are the short tail of the
    Zipf curve and the stopword-shingle blowup an all-pairs join would
    hit is structurally impossible.  Verification joins the candidate
    pairs to one hashed-shingle array per doc and intersects in codegen;
    text never shuffles anywhere (tokens are 60-bit md5-prefix ints from
    the first projection on)."""
    # Materialize the token table once with an EAGER localCheckpoint (it is
    # read three times: df counts, per-doc sets, prefix ranking).  Unlike a
    # bare .persist() — which outlives the query and accumulates cached
    # blocks across a 290-query bench session (ADVICE r9) — checkpoint
    # blocks are released by the ContextCleaner as soon as the returned
    # plan is garbage-collected.  Same pattern as functions/components.py.
    toks = (
        _shingle_rows(_near_corpus(spark, sf_dir))
        .select(
            "doc_id",
            F.expr(
                "cast(conv(substr(md5(s), 1, 15), 16, 10) AS bigint)"
            ).alias("token"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    df = toks.groupBy("token").agg(F.count("*").alias("df"))
    # sets fans into the prefix ranking and both verification legs: lazily
    # composed, the collect_list aggregation ran 3x.  One eager checkpoint
    # bounds it at one pass (r12, guide §5).  The r12 `pref` checkpoint was
    # DROPPED in r13 after the driver's artifacts showed the query +51%
    # round-over-round: a per-call-site A/B (each localCheckpoint turned
    # off in turn, interleaved in one session) read mins at sf0.1 / 10x of
    # toks+sets+pref 2.32/5.80, toks+sets 2.25/5.73, toks+pref 2.32/6.18,
    # toks-only 2.32/5.91 — the pref checkpoint is neutral-to-negative at
    # both scales, and without it the candidate self-join's two legs are
    # canonically identical subplans, so runtime ReusedExchange computes
    # the ranking window once anyway (the q_minhash_eval rule from r12).
    sets = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("token")).alias("toks_arr"),
        F.count("*").alias("n"),
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    ranked = (
        toks.join(df, "token")
        .join(sets.select("doc_id", "n"), "doc_id")
        .withColumn("pos", F.row_number().over(w))
    )
    pref = ranked.filter(F.col("pos") <= F.expr(_PREFIX_LEN_SPARK)).select(
        "doc_id", "token", "n"
    )
    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                10 * F.least(F.col("a.n"), F.col("b.n"))
                >= TAU_NUM * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks_arr").alias("arr_a"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks_arr").alias("arr_b"),
        F.col("n").alias("n_b"),
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("n_common"),
        )
    )
    return verified.filter(
        (10 + TAU_NUM) * F.col("n_common")
        >= TAU_NUM * (F.col("n_a") + F.col("n_b"))
    ).select(
        "doc_a",
        "doc_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "n_common",
        fround(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            4,
        ).alias("jaccard"),
    )
