"""Beyond-reference corpus-curation operators over `documents` /
`embeddings`: test-set decontamination, repetition-based quality filtering,
and semantic (embedding-space) deduplication — the three curation stages a
training-data pipeline runs after near-dup removal and before mixing.

Public-method provenance (published papers, not the reference repo):

- 13-gram test-set decontamination: Brown et al. 2020 (GPT-3, appendix C)
  flag training documents sharing any 13-gram with an evaluation set.
- Repetition filters: Rae et al. 2021 (Gopher, table A1) drop documents
  whose duplicate-token or most-frequent-n-gram character fractions are
  high (thresholds here re-calibrated to the synthetic fixture's measured
  distribution so keep/drop is non-trivially exercised).
- Semantic dedup: Abbas et al. 2023 (SemDeDup) cluster embeddings, then
  search for near-duplicates only WITHIN each cluster — cutting the pair
  space from O(N^2) to sum of per-cluster squares.

Design rules follow queries/text.py and queries/similarity.py: JVM-side
string/array expressions only (no Python in the hot path), portable md5
hashing, planted fixtures derived identically in both engines so the
interesting behavior (contamination recall, dup flags) is oracle-CHECKED,
and floats quantized with fround on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import (
    fround,
    fround_guarded,
    fround_guarded_sql,
    fround_sql,
)
from ..functions.tokenize import WS as _WS
from ..functions.vectors import (
    as_double_duck,
    as_double_spark,
    dot_duck,
    dot_spark,
    norm_duck,
    norm_spark,
    sqdist_duck,
    sqdist_spark,
)
from ..registry import register
from ..sources import load_table
from .text import (
    _EXACT_CORPUS_SQL,
    _QUALITY_EXPR_DUCK,
    _WORDS_SPARK,
    _exact_corpus,
    _marker_score_duck,
    _marker_score_spark,
    quality_score_col,
)

# ---------------------------------------------------------------------------
# Test-set decontamination (13-gram overlap)
# ---------------------------------------------------------------------------

NGRAM = 13  # GPT-3's decontamination n

# Same md5 split buckets as queries/prep.py::q_train_test_split, so the
# "evaluation set" here is exactly that operator's test split.
_BUCKET_SPARK = (
    "cast(cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) "
    "AS bigint) % 100 AS int)"
)
_BUCKET_DUCK = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 "
    "AS INT)"
)

# Planted contamination: every 4th doc gets a 13-token canary whose last
# token varies over 16 groups — train and test docs in the same group then
# share exactly one 13-gram (plus whatever the fixture's planted exact-dup
# documents already share), so decontamination RECALL is oracle-checked.
_CANARY = (
    " eval canary alpha bravo charlie delta echo foxtrot golf hotel india"
    " juliet group"
)
N_CANARY_GROUPS = 16

_DECON_CORPUS_DUCK = f"""
    SELECT doc_id, {_BUCKET_DUCK} AS bucket,
           CASE WHEN doc_id % 4 = 0
                THEN text || '{_CANARY}' || CAST(doc_id % {N_CANARY_GROUPS} AS VARCHAR)
                ELSE text END AS text
    FROM documents
"""


def _decon_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.concat(
        F.col("text"),
        F.lit(_CANARY),
        (F.col("doc_id") % N_CANARY_GROUPS).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.expr(_BUCKET_SPARK).alias("bucket"),
        F.when(F.col("doc_id") % 4 == 0, planted).otherwise(F.col("text")).alias(
            "text"
        ),
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH corpus AS ({_DECON_CORPUS_DUCK}),
    toks AS (
        SELECT doc_id, bucket, string_split_regex(trim(text), '{_WS}') AS toks
        FROM corpus
    ),
    offs AS (
        SELECT doc_id, bucket, toks,
               unnest(generate_series(1, len(toks) - {NGRAM - 1})) AS i
        FROM toks WHERE len(toks) >= {NGRAM}
    ),
    grams AS (
        SELECT DISTINCT doc_id, bucket,
               md5(array_to_string(toks[i:i + {NGRAM - 1}], ' ')) AS h
        FROM offs
    ),
    tst AS (SELECT DISTINCT h FROM grams WHERE bucket >= 90),
    cnt AS (
        SELECT g.doc_id, count(*) AS c
        FROM grams g JOIN tst USING (h)
        WHERE g.bucket < 80
        GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(cnt.c, 0) AS INT) AS n_contaminated,
           coalesce(cnt.c, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM corpus WHERE bucket < 80) d
    LEFT JOIN cnt USING (doc_id)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag every TRAIN document that shares at
    least one {NGRAM}-gram (whitespace tokens) with any TEST document —
    the GPT-3-style overlap filter that keeps evaluation benchmarks out of
    the training corpus.  Output: one row per train doc with the count of
    distinct shared {NGRAM}-grams.

    Scale: the evaluation set is SMALL by nature (benchmarks, not corpora),
    so its distinct n-gram hash set is broadcast and the training corpus
    never shuffles to be checked — n-grams are md5-hashed before the join
    so only 32-byte keys move, never text.  N-gram generation is an
    explode over an arithmetic sequence inside codegen (same shape as
    q_doc_chunk).  The final count join-back is doc_id-keyed and AQE picks
    its strategy.  If the eval set ever outgrew broadcast, the same plan
    degrades gracefully to a hash-hash equi-join on the gram hash."""
    corpus = _decon_corpus(spark, sf_dir)
    toks = corpus.select(
        "doc_id", "bucket", F.split(F.trim("text"), _WS).alias("toks")
    ).filter(F.size("toks") >= NGRAM)
    offs = toks.select(
        "doc_id",
        "bucket",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (NGRAM - 1))).alias("i"),
    )
    grams = offs.select(
        "doc_id",
        "bucket",
        F.md5(F.array_join(F.expr(f"slice(toks, i, {NGRAM})"), " ")).alias("h"),
    ).distinct()
    tst = grams.filter(F.col("bucket") >= 90).select("h").distinct()
    cnt = (
        grams.filter(F.col("bucket") < 80)
        .join(F.broadcast(tst), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("c"))
    )
    train = corpus.filter(F.col("bucket") < 80).select("doc_id")
    return train.join(cnt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("c"), F.lit(0)).cast("int").alias("n_contaminated"),
        (F.coalesce(F.col("c"), F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Repetition quality filter (Gopher-style)
# ---------------------------------------------------------------------------

# Thresholds calibrated to the fixture's measured distributions (median
# dup-token fraction 0.50, p90 top-bigram char fraction 0.126) so both
# keep=true and keep=false occur; Gopher's published values target natural
# web text, not 54-token word salad.
DUP_TOKEN_MAX = 0.6
TOP_BIGRAM_MAX = 0.125


@register(
    "q_repetition_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, length(text) AS nc,
               string_split_regex(trim(text), '{_WS}') AS toks
        FROM documents
    ),
    d AS (
        SELECT doc_id, nc, len(toks) AS n_tokens,
               {fround_sql("1.0 - len(list_distinct(toks))::DOUBLE / len(toks)")}
                   AS dup_token_frac
        FROM t
    ),
    offs AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 2
    ),
    bgc AS (
        SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg, count(*) AS c
        FROM offs GROUP BY doc_id, bg
    ),
    top AS (
        SELECT doc_id, max(struct_pack(c := c, bg := bg)) AS m
        FROM bgc GROUP BY doc_id
    ),
    joined AS (
        SELECT d.doc_id, d.n_tokens, d.dup_token_frac,
               top.m.bg AS top_bigram,
               {fround_sql("(top.m.c * length(top.m.bg))::DOUBLE / d.nc")}
                   AS top_bigram_frac
        FROM d JOIN top USING (doc_id)
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, dup_token_frac,
           top_bigram, top_bigram_frac,
           dup_token_frac <= {DUP_TOKEN_MAX}
               AND top_bigram_frac <= {TOP_BIGRAM_MAX} AS keep
    FROM joined
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per document, the duplicate-token
    fraction (1 - distinct/total) and the character fraction covered by the
    most frequent bigram; keep = both under threshold.  These are the
    cheap repetition signals that drop boilerplate / degenerate generations
    before training.

    Scale: dup_token_frac is fully array-native inside codegen (no shuffle
    at all — array_distinct per row).  The top-bigram pass explodes
    bigrams and aggregates keyed by (doc_id, bigram) — partial aggregation
    collapses repeats map-side, the shuffle key is high-cardinality and
    skew-free, and the per-doc argmax is a struct max (one more doc_id-keyed
    partial agg), the same min-over-struct idiom as q_embed_centroids.
    Tie-break on (count, bigram) is lexicographic in BOTH engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select(
        "doc_id",
        F.length("text").alias("nc"),
        F.split(F.trim("text"), _WS).alias("toks"),
    )
    d = t.select(
        "doc_id",
        "nc",
        F.size("toks").alias("n_tokens"),
        fround(
            1.0 - F.size(F.array_distinct("toks")).cast("double") / F.size("toks"), 4
        ).alias("dup_token_frac"),
    )
    offs = t.filter(F.size("toks") >= 2).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
    )
    bgc = (
        offs.select(
            "doc_id",
            F.expr("concat(element_at(toks, i), ' ', element_at(toks, i + 1))").alias(
                "bg"
            ),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    top = bgc.groupBy("doc_id").agg(F.max(F.struct("c", "bg")).alias("m"))
    joined = d.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        F.col("m.bg").alias("top_bigram"),
        fround(
            (F.col("m.c") * F.length("m.bg")).cast("double") / F.col("nc"), 4
        ).alias("top_bigram_frac"),
    )
    return joined.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "dup_token_frac",
        "top_bigram",
        "top_bigram_frac",
        (
            (F.col("dup_token_frac") <= DUP_TOKEN_MAX)
            & (F.col("top_bigram_frac") <= TOP_BIGRAM_MAX)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup: cluster-scoped embedding near-dup removal)
# ---------------------------------------------------------------------------

N_CENTROIDS = 8  # seed floor; the effective k is max(8, ceil(N/250)), below
# PER_CLUSTER target so pair work stays ~N*250 instead of N^2/k (the 10x
# scale fixture measured 76 s with k pinned at 8 — sum(cluster_size^2) is
# the whole SemDeDup cost model, so k MUST grow with N; for N <= 2000,
# i.e. every driver-certified fixture, the formula still yields exactly 8
# and outputs are unchanged)
PER_CLUSTER = 250
# Production SemDeDup uses ~0.95+; the fixture's embeddings are near-uniform
# (max within-cluster cosine 0.53), so the threshold is set at the measured
# p99.9 so the keep/drop branch is non-trivially exercised AND oracle-checked.
SEMDEDUP_THRESH = 0.4


@register(
    "q_semantic_dedup",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, {as_double_duck("embedding")} AS emb,
               {norm_duck("embedding", cast=True)} AS nrm
        FROM embeddings
    ),
    s AS (
        SELECT vec_id AS cid, {as_double_duck("embedding")} AS semb
        FROM embeddings
        WHERE vec_id < (SELECT greatest({N_CENTROIDS},
                                        CAST(ceil(count(*) / {PER_CLUSTER}.0) AS BIGINT))
                        FROM embeddings)
    ),
    a AS (
        SELECT c.vec_id, c.emb, c.nrm,
               min(struct_pack(d := {sqdist_duck("c.emb", "s.semb")}, c := s.cid)).c AS cid
        FROM c, s
        GROUP BY c.vec_id, c.emb, c.nrm
    ),
    p AS (
        SELECT y.vec_id, count(*) AS c
        FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE {dot_duck("x.emb", "y.emb")} / (x.nrm * y.nrm) >= {SEMDEDUP_THRESH}
        GROUP BY y.vec_id
    )
    SELECT a.vec_id, CAST(a.cid AS INT) AS cluster_id,
           CAST(coalesce(p.c, 0) AS INT) AS n_near,
           coalesce(p.c, 0) > 0 AS is_dup
    FROM a LEFT JOIN p USING (vec_id)
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: assign every embedding to its nearest seed centroid (same
    deterministic assignment as q_embed_centroids), then flag a vector as a
    duplicate iff some LOWER vec_id in the SAME cluster has cosine >=
    {SEMDEDUP_THRESH} — keep-first-id semantic dedup whose pair search never
    leaves a cluster.  The kept corpus is `WHERE NOT is_dup`.

    Scale: pairing is cluster-local, so the pair space is
    sum(cluster_size^2), not N^2, as long as k grows with N: the effective
    seed count is max({N_CENTROIDS}, ceil(N/{PER_CLUSTER})), computed as a
    broadcast 1-row aggregate in both engines (identical results at every
    shipped fixture, where it floors to {N_CENTROIDS}).  The price is the
    seed assignment: every vector is scored against all k seeds, so once
    k passes its floor that operator emits N x k = N^2/{PER_CLUSTER} rows
    and is quadratic (25x on the 10x replica; SUPERLINEAR in
    tests/test_registry_pass.py).  Seeds broadcast for assignment (the
    corpus never shuffles to be scored); the self-join shuffles each side
    once on cluster_id; cosine is an unrolled dot product inside codegen
    (functions/vectors.py), accumulated in identical element order in
    both engines so the threshold compare is bit-deterministic."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select(
        "vec_id",
        F.expr(as_double_spark("embedding")).alias("emb"),
        F.expr(norm_spark("embedding", cast=True)).alias("nrm"),
    )
    # Effective k = max(floor, ceil(N / PER_CLUSTER)), derived declaratively
    # (1-row broadcast, no driver collect) so cluster sizes stay bounded as
    # the corpus grows and the pair stage stays ~N * PER_CLUSTER.
    kdf = emb.agg(
        F.greatest(
            F.lit(N_CENTROIDS).cast("long"),
            F.ceil(F.count("*") / float(PER_CLUSTER)).cast("long"),
        ).alias("_k")
    )
    s = (
        emb.join(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("_k"))
        .select(
            F.col("vec_id").alias("cid"),
            F.expr(as_double_spark("embedding")).alias("semb"),
        )
    )
    dist = F.expr(sqdist_spark("emb", "semb"))
    a = (
        c.crossJoin(F.broadcast(s))
        .select(
            "vec_id",
            "emb",
            "nrm",
            F.struct(dist.alias("d"), F.col("cid").alias("c")).alias("dc"),
        )
        .groupBy("vec_id")
        # first(emb)/first(nrm) are deterministic: all rows in a vec_id
        # group fan out from one corpus row (see q_embed_centroids).
        .agg(
            F.min("dc").alias("m"),
            F.first("emb").alias("emb"),
            F.first("nrm").alias("nrm"),
        )
        .select("vec_id", F.col("m.c").alias("cid"), "emb", "nrm")
        # The assignment feeds the self-join TWICE plus the final
        # join-back; an eager localCheckpoint materializes the K-candidate
        # scoring once instead of three times.  Not .persist(): cached
        # blocks outlive the query, and a later call in the session would
        # read them instead of scoring.
        .localCheckpoint(eager=True)
    )
    x = a.select(
        F.col("vec_id").alias("x_id"),
        F.col("cid").alias("x_cid"),
        F.col("emb").alias("x_emb"),
        F.col("nrm").alias("x_nrm"),
    )
    y = a.select(
        F.col("vec_id").alias("y_id"),
        F.col("cid").alias("y_cid"),
        F.col("emb").alias("y_emb"),
        F.col("nrm").alias("y_nrm"),
    )
    cos = F.expr(dot_spark("x_emb", "y_emb")) / (F.col("x_nrm") * F.col("y_nrm"))
    near = (
        x.join(y, (F.col("x_cid") == F.col("y_cid")) & (F.col("x_id") < F.col("y_id")))
        .filter(cos >= SEMDEDUP_THRESH)
        .groupBy("y_id")
        .agg(F.count("*").alias("c"))
    )
    return a.select("vec_id", "cid").join(
        near, a["vec_id"] == near["y_id"], "left"
    ).select(
        "vec_id",
        F.col("cid").cast("int").alias("cluster_id"),
        F.coalesce(F.col("c"), F.lit(0)).cast("int").alias("n_near"),
        (F.coalesce(F.col("c"), F.lit(0)) > 0).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Cross-document line-level dedup (CCNet-style)
# ---------------------------------------------------------------------------

# Documents in the fixture carry no newlines, so "lines" are deterministic
# non-overlapping 10-word windows — same re-lining on both engines, so the
# cross-doc share statistics are oracle-CHECKED.  (On real web text the
# split would be '\n'; only this one expression changes.)
_LINE_WORDS = 10


@register(
    "q_paragraph_dedup",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS w
        FROM documents
        WHERE text IS NOT NULL
    ),
    lines AS (
        SELECT doc_id,
               md5(array_to_string(w[i*{_LINE_WORDS}+1 : i*{_LINE_WORDS}+{_LINE_WORDS}], ' ')) AS h
        FROM t, unnest(range(CAST(ceil(len(w) / {_LINE_WORDS}.0) AS BIGINT))) r(i)
    ),
    counts AS (
        SELECT h, count(DISTINCT doc_id) AS nd FROM lines GROUP BY h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
           {fround_sql("sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)"
                       " / CAST(count(*) AS DOUBLE)")} AS dup_line_ratio
    FROM lines JOIN counts USING (h)
    GROUP BY doc_id
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line-level duplication profile, the CCNet / Common
    Crawl curation step that doc-level dedup misses: boilerplate lines
    (headers, footers, licence blurbs) repeat across otherwise-distinct
    pages.  Each document is split into fixed 10-word lines; a line is
    "duplicated" when its content appears in >= 2 DISTINCT documents; the
    per-document output (n_lines, n_dup_lines, dup_line_ratio) is the
    removal signal a cleaner thresholds on.

    Scale: lines explode to ~n_words/10 rows per doc but carry only
    (doc_id, md5) — 32-char hashes, never the text, ride both shuffles.
    The global frequency pass is a partial-agg groupBy on the hash
    (map-side count-distinct collapse), and the join back is a
    hash-partitioned equi-join on the same key — no broadcast of the
    (corpus-sized) counts table, no all-pairs anything."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # size(w) >= 1 for any non-NULL text (split('') -> ['']), so the
    # sequence upper bound is always >= 0 — it can never step downward.
    lines = (
        docs.select("doc_id", F.expr(f"split(trim(text), '{_WS}')").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform("
                    f"sequence(0, cast(ceil(size(w) / {_LINE_WORDS}.0) as int) - 1),"
                    f" i -> md5(array_join(slice(w, i*{_LINE_WORDS}+1, {_LINE_WORDS}),"
                    f" ' ')))"
                )
            ).alias("h"),
        )
    )
    counts = lines.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        lines.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_lines"),
            fround(
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
                / F.count("*").cast("double"),
                4,
            ).alias("dup_line_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup survivor selection
# ---------------------------------------------------------------------------

# Near-dup clusters with QUALITY-VARIED members: every 6th sufficiently long
# doc also appears truncated to its first 30 words (lower length credit) and
# extended with a stopword-rich tail (higher length + stopword credit), so
# the quality argmax genuinely picks different variants per cluster — unlike
# first-wins dedup, where the original always survives.  Cluster key = md5
# of the first 20 normalized words (all three variants share it by
# construction); planting requires >= 40 words so the truncation is real
# and the 20-word prefix is stable.
_SURV_TAIL = " the a of and is" * 10
_SURV_MIN_WORDS = 40
_SURV_TRUNC = 30
_SURV_PREFIX = 20

_SURV_CORPUS_DUCK = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 300000,
           array_to_string(string_split_regex(trim(text), '{_WS}')[1:{_SURV_TRUNC}], ' ')
    FROM documents
    WHERE doc_id % 6 = 0
      AND len(string_split_regex(trim(text), '{_WS}')) >= {_SURV_MIN_WORDS}
    UNION ALL
    SELECT doc_id + 400000, text || '{_SURV_TAIL}'
    FROM documents
    WHERE doc_id % 6 = 0
      AND len(string_split_regex(trim(text), '{_WS}')) >= {_SURV_MIN_WORDS}
"""


def _survivor_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim("text"), _WS)
    eligible = (F.col("doc_id") % 6 == 0) & (F.size(words) >= _SURV_MIN_WORDS)
    trunc = docs.filter(eligible).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, _SURV_TRUNC)).alias("text"),
    )
    ext = docs.filter(eligible).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_SURV_TAIL)).alias("text"),
    )
    return docs.unionByName(trunc).unionByName(ext)


@register(
    "q_dedup_survivor",
    oracle=f"""
    WITH corpus AS ({_SURV_CORPUS_DUCK}),
    members AS (
        SELECT doc_id,
               md5(array_to_string(
                   string_split_regex(trim(lower(text)), '{_WS}')[1:{_SURV_PREFIX}],
                   ' ')) AS cluster_key,
               len(text) AS n_chars,
               len(string_split_regex(trim(lower(text)), '{_WS}')) AS n_words,
               len(list_filter(string_split_regex(trim(lower(text)), '{_WS}'),
                               w -> w IN ('the', 'a', 'of', 'and', 'is'))) AS n_stop
        FROM corpus WHERE text IS NOT NULL
    ),
    scored AS (
        SELECT doc_id, cluster_key, {fround_sql(_QUALITY_EXPR_DUCK)} AS q
        FROM members WHERE n_words > 0
    ),
    groups AS (
        SELECT cluster_key,
               CAST(count(*) AS BIGINT) AS n_members,
               max(q) AS survivor_score
        FROM scored GROUP BY cluster_key
    )
    SELECT g.cluster_key,
           g.n_members,
           min(s.doc_id) AS survivor_id,
           g.survivor_score,
           g.n_members - 1 AS n_dropped
    FROM groups g JOIN scored s
      ON s.cluster_key = g.cluster_key AND s.q = g.survivor_score
    GROUP BY g.cluster_key, g.n_members, g.survivor_score
    """,
)
def q_dedup_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection for dup clusters: instead of
    first-wins (min doc_id, q_doc_dedup_exact), each cluster keeps its
    HIGHEST-QUALITY member (ties -> min doc_id) — the canonicalization
    step curation pipelines run so dedup doesn't discard a clean page in
    favor of an earlier-crawled truncated copy.

    Scale: members carry only (doc_id, 32-char cluster key, one double);
    the argmax is ONE partial-aggregated groupBy via max(struct(q, -id))
    — the scored-vs-groups self-join the SQL form implies never runs."""
    corpus = _survivor_corpus(spark, sf_dir).filter(F.col("text").isNotNull())
    words = F.split(F.trim(F.lower("text")), _WS)
    members = corpus.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(words, 1, _SURV_PREFIX))).alias(
            "cluster_key"
        ),
        F.length("text").alias("n_chars"),
        words.alias("_words"),
    )
    scored = members.filter(F.size("_words") > 0).select(
        "doc_id",
        "cluster_key",
        fround(quality_score_col(), 4).alias("q"),
    )
    return (
        scored.groupBy("cluster_key")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.max(
                F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))
            ).alias("m"),
        )
        .select(
            "cluster_key",
            "n_members",
            (-F.col("m.nid")).alias("survivor_id"),
            F.col("m.q").alias("survivor_score"),
            (F.col("n_members") - 1).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-internal repeated-substring detection (exact-substring dedup signal)
# ---------------------------------------------------------------------------

# A document more than half covered by corpus-duplicated 13-gram spans is
# dropped.  On this fixture the signal is bimodal (455 docs at 0.0, the
# planted duplicates at >0.95), so the verdict is non-trivially exercised.
DUP_SPAN_MAX = 0.5


@register(
    "q_repeated_substrings",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS toks
        FROM documents
    ),
    offs AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {NGRAM - 1})) AS i
        FROM toks WHERE len(toks) >= {NGRAM}
    ),
    occ AS (
        SELECT doc_id, i,
               md5(array_to_string(toks[i:i + {NGRAM - 1}], ' ')) AS h
        FROM offs
    ),
    dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
    cover AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT o.doc_id,
                   unnest(generate_series(o.i, o.i + {NGRAM - 1})) AS p
            FROM occ o JOIN dup USING (h)
        )
    ),
    cov AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS covered
        FROM cover GROUP BY doc_id
    ),
    ndg AS (
        SELECT doc_id, CAST(count(DISTINCT h) AS BIGINT) AS n_dup_grams
        FROM occ JOIN dup USING (h) GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks
    )
    SELECT b.doc_id, b.n_tokens,
           coalesce(ndg.n_dup_grams, 0) AS n_dup_grams,
           {fround_sql("coalesce(cov.covered, 0) / CAST(b.n_tokens AS DOUBLE)", 6)}
               AS dup_span_frac,
           {fround_sql("coalesce(cov.covered, 0) / CAST(b.n_tokens AS DOUBLE)", 6)}
               <= {DUP_SPAN_MAX} AS keep
    FROM base b
    LEFT JOIN cov USING (doc_id)
    LEFT JOIN ndg USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal repeated-substring detection: the exact-substring
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), approximated at {NGRAM}-token granularity —
    a {NGRAM}-gram occurring more than once ANYWHERE in the corpus marks
    all tokens it covers as duplicated span, and each document reports
    its duplicated-span fraction plus a keep verdict at
    dup_span_frac <= {DUP_SPAN_MAX}.  Unlike q_decontaminate (overlap
    against an eval set) this is self-overlap, and unlike
    q_doc_dedup_minhash it fires on partial copies: a document that
    embeds one plagiarized paragraph in fresh text is invisible to
    whole-doc similarity but lights up here.

    Scale: the paper's suffix array is replaced by the distributed
    idiom — n-gram occurrences are md5-hashed in codegen, so only
    (doc_id, position, 32-byte hash) tuples ever shuffle, never text;
    the duplicated-gram set comes from a partial-aggregating HAVING
    count>1; span coverage re-joins occurrences to that set on the hash
    (AQE broadcasts it when small) and expands to positions inside the
    scan stage, then the distinct-position count partial-aggregates per
    doc.  All joins are hash-keyed; nothing is corpus-quadratic."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.split(F.trim("text"), _WS).alias("toks")
        )
    )
    base = toks.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    offs = toks.filter(F.size("toks") >= NGRAM).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - (NGRAM - 1))
        ).alias("i"),
    )
    # occ fans into the dup census and the probe side of the hits join,
    # and hits fans into cover + ndg: lazily composed, the n-gram explode
    # + md5 ran once per leg (4x total).  Eager checkpoints of the
    # (doc_id, i, h) occurrence table and the duplicated subset bound the
    # explode at one pass and the dup join at one run (r12, guide §5).
    occ = offs.select(
        "doc_id",
        "i",
        F.md5(F.array_join(F.expr(f"slice(toks, i, {NGRAM})"), " ")).alias("h"),
    ).localCheckpoint(eager=True)
    dup = occ.groupBy("h").agg(F.count("*").alias("c")).filter(
        F.col("c") > 1
    ).select("h")
    hits = occ.join(dup, "h").localCheckpoint(eager=True)
    cover = (
        hits.select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (NGRAM - 1))).alias(
                "p"
            ),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("covered"))
    )
    ndg = hits.groupBy("doc_id").agg(
        F.countDistinct("h").cast("long").alias("n_dup_grams")
    )
    frac = fround(
        F.coalesce(F.col("covered"), F.lit(0))
        / F.col("n_tokens").cast("double"),
        6,
    )
    return (
        base.join(cover, "doc_id", "left")
        .join(ndg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            frac.alias("dup_span_frac"),
            (frac <= DUP_SPAN_MAX).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# End-to-end curation recipe: one pass composing the standalone gates
# ---------------------------------------------------------------------------

# Gate thresholds (calibrated to the fixture's measured distributions so
# every gate fires non-trivially: quality median 0.57, dup-token-frac
# median 0.54, five zero-marker docs, and the derived corpus's planted
# case-variant duplicates).
PIPE_QUALITY_MIN = "0.5"
PIPE_DUPFRAC_MAX = "0.6"

_SC_EN = _marker_score_duck("en")
_SC_DE = _marker_score_duck("de")
_SC_FR = _marker_score_duck("fr")
_SC_ES = _marker_score_duck("es")


@register(
    "q_curation_pipeline",
    oracle=f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    feat AS (
        SELECT doc_id, text,
               length(text) AS n_chars,
               string_split_regex(trim(lower(text)), '{_WS}') AS _words
        FROM corpus
    ),
    scored AS (
        SELECT doc_id,
               len(_words) AS n_words,
               greatest({_SC_EN}, {_SC_DE}, {_SC_FR}, {_SC_ES})
                   AS lang_conf,
               least(len(_words) / 100.0, 1.0) * 0.5
                 + least(CAST({_SC_EN} AS DOUBLE) / len(_words) * 5.0, 1.0) * 0.3
                 + CASE WHEN CAST(n_chars AS DOUBLE) / len(_words)
                        BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0.0 END
                   AS quality,
               1.0 - CAST(len(list_distinct(_words)) AS DOUBLE) / len(_words)
                   AS dup_token_frac,
               md5(lower(regexp_replace(trim(text), '{_WS}', ' ', 'g'))) AS h
        FROM feat
    ),
    keeper AS (SELECT h, min(doc_id) AS keeper_id FROM scored GROUP BY h),
    verdict AS (
        SELECT s.doc_id,
               CAST(s.n_words AS BIGINT) AS n_words,
               CAST(s.lang_conf AS BIGINT) AS lang_conf,
               {fround_sql("s.quality")} AS quality,
               {fround_sql("s.dup_token_frac")} AS dup_token_frac,
               s.doc_id <> k.keeper_id AS is_dup_copy,
               CASE
                 WHEN s.lang_conf < 1 THEN 'language'
                 WHEN {fround_sql("s.quality", 6)} < {PIPE_QUALITY_MIN}
                     THEN 'quality'
                 WHEN {fround_sql("s.dup_token_frac", 6)} > {PIPE_DUPFRAC_MAX}
                     THEN 'repetition'
                 WHEN s.doc_id <> k.keeper_id THEN 'duplicate'
               END AS drop_reason
        FROM scored s JOIN keeper k USING (h)
    )
    SELECT doc_id, n_words, lang_conf, quality, dup_token_frac, is_dup_copy,
           drop_reason IS NULL AS keep, drop_reason
    FROM verdict
    ORDER BY doc_id
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation recipe in ONE composed DataFrame plan: language
    confidence (marker-word hits), heuristic quality score, duplicate-token
    repetition fraction, and exact-dedup keeper election, cascaded into a
    keep verdict with a first-failing-stage drop_reason
    (language -> quality -> repetition -> duplicate) — the composition
    proof that the standalone gates (q_lang_id, q_quality_score,
    q_repetition_filter, q_doc_dedup_exact) chain into a single pipeline
    without materialization barriers between stages.  Runs over the same
    derived corpus as q_doc_dedup_exact so the duplicate gate fires on
    its planted case-variant copies.

    Scale: every per-document feature is computed in ONE projection inside
    whole-stage codegen (the tokenization is shared across all four
    gates — the plan tokenizes once, not four times); the only shuffle is
    the content-hash groupBy for keeper election, which moves 32-byte
    hashes, and the verdict re-join is hash-keyed with AQE choosing
    broadcast when the group table is small.  Adding a gate adds a column
    expression, not a pass — this is why the recipe form beats running
    the four standalone operators back to back (4 corpus scans -> 1)."""
    corpus = _exact_corpus(spark, sf_dir)
    feat = corpus.select(
        "doc_id",
        "text",
        F.length("text").alias("n_chars"),
        F.expr(_WORDS_SPARK).alias("_words"),
    )
    scores = {
        lang: F.expr(_marker_score_spark(lang)).cast("long")
        for lang in ("en", "de", "fr", "es")
    }
    n_words = F.size("_words").cast("long")
    quality = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.5
        + F.least(
            scores["en"].cast("double") / n_words * 5.0, F.lit(1.0)
        )
        * 0.3
        + F.when(
            (F.col("n_chars").cast("double") / n_words).between(3.0, 10.0),
            F.lit(0.2),
        ).otherwise(F.lit(0.0))
    )
    dupfrac = 1.0 - F.size(F.array_distinct("_words")).cast(
        "double"
    ) / n_words
    scored = feat.select(
        "doc_id",
        n_words.alias("n_words"),
        F.greatest(*scores.values()).alias("lang_conf"),
        quality.alias("quality"),
        dupfrac.alias("dup_token_frac"),
        F.md5(
            F.lower(F.regexp_replace(F.trim("text"), _WS, " "))
        ).alias("h"),
    )
    keeper = scored.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    qmin = F.expr(f"CAST({PIPE_QUALITY_MIN} AS DOUBLE)")
    dmax = F.expr(f"CAST({PIPE_DUPFRAC_MAX} AS DOUBLE)")
    joined = scored.join(keeper, "h")
    drop_reason = (
        F.when(F.col("lang_conf") < 1, F.lit("language"))
        .when(fround(F.col("quality"), 6) < qmin, F.lit("quality"))
        .when(
            fround(F.col("dup_token_frac"), 6) > dmax, F.lit("repetition")
        )
        .when(F.col("doc_id") != F.col("keeper_id"), F.lit("duplicate"))
    )
    return (
        joined.select(
            "doc_id",
            "n_words",
            "lang_conf",
            fround(F.col("quality"), 4).alias("quality"),
            fround(F.col("dup_token_frac"), 4).alias("dup_token_frac"),
            (F.col("doc_id") != F.col("keeper_id")).alias("is_dup_copy"),
            drop_reason.alias("drop_reason"),
        )
        .select(
            "doc_id",
            "n_words",
            "lang_conf",
            "quality",
            "dup_token_frac",
            "is_dup_copy",
            F.col("drop_reason").isNull().alias("keep"),
            "drop_reason",
        )
        .orderBy("doc_id")
    )


from ..registry import ORACLES as _ORACLES  # noqa: E402  (registered above)


@register(
    "q_source_quality_report",
    oracle=f"""
    WITH verdicts AS (
        SELECT doc_id, n_words, quality, drop_reason,
               drop_reason IS NULL AS keep
        FROM ({{pipeline}})
    ),
    sourced AS (
        SELECT v.*, d.source
        FROM verdicts v
        JOIN documents d ON d.doc_id = v.doc_id % 100000
    ),
    reasons AS (
        SELECT source, drop_reason, CAST(count(*) AS BIGINT) AS c
        FROM sourced WHERE drop_reason IS NOT NULL
        GROUP BY source, drop_reason
    ),
    top_reason AS (
        SELECT source,
               max(struct_pack(c := c, neg := drop_reason)) AS m
        FROM (SELECT source, drop_reason, c FROM reasons) t
        GROUP BY source
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s.keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           {fround_sql("avg(CASE WHEN s.keep THEN 1.0 ELSE 0.0 END)", 6)}
               AS keep_rate,
           {fround_sql("avg(s.quality)", 6)} AS avg_quality,
           CAST(sum(CASE WHEN s.keep THEN s.n_words ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           any_value(tr.m.neg) AS top_drop_reason
    FROM sourced s
    LEFT JOIN top_reason tr ON tr.source = s.source
    GROUP BY s.source
    ORDER BY s.source
    """.replace("{pipeline}", _ORACLES["q_curation_pipeline"]),
)
def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card over the composite curation pipeline's
    verdicts: document count, keep count/rate, mean quality score, kept
    token volume, and the modal drop reason — the report a data vendor
    review reads to decide which sources to renegotiate or cut.  Built
    BY COMPOSITION: the verdict frame is q_curation_pipeline's output
    (the oracle nests that query's registered SQL), joined back to each
    document's source.

    Scale: inherits the pipeline's one-scan posture; the source
    attachment is a doc_id-keyed join (planted copies map to their
    original's source via the id offset), and everything after is a
    partial-aggregating rollup to |sources| rows with a
    max-over-struct modal election."""
    verdicts = q_curation_pipeline(spark, sf_dir).select(
        "doc_id", "n_words", "quality", "drop_reason", "keep"
    )
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"), "source"
    )
    sourced = verdicts.join(
        src, verdicts["doc_id"] % 100000 == src["base_id"]
    )
    reasons = (
        sourced.filter(F.col("drop_reason").isNotNull())
        .groupBy("source", "drop_reason")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top_reason = reasons.groupBy("source").agg(
        F.max(
            F.struct(F.col("c").alias("c"), F.col("drop_reason").alias("neg"))
        ).alias("m")
    )
    return (
        sourced.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            fround(
                F.avg(F.when(F.col("keep"), 1.0).otherwise(0.0)), 6
            ).alias("keep_rate"),
            fround(F.avg("quality"), 6).alias("avg_quality"),
            F.sum(F.when(F.col("keep"), F.col("n_words")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .join(top_reason, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_kept",
            "keep_rate",
            "avg_quality",
            "kept_tokens",
            F.col("m.neg").alias("top_drop_reason"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Eval-set gram export: the table the streaming decontamination gate eats
# ---------------------------------------------------------------------------


def gram_md5_col(tok_col: str = "toks", idx_col: str = "i") -> "F.Column":
    """md5 of the space-joined {NGRAM}-token slice at 1-based position
    idx_col — THE gram hash recipe.  Shared by q_eval_grams (batch
    export) and, via gram_array_expr, the streaming decontamination gate
    (streaming/doc_pipeline.py); q_decontaminate's inline twin is pinned
    to these by the cross-path agreement test in tests/test_doc_pipeline.py."""
    return F.md5(
        F.array_join(F.expr(f"slice({tok_col}, {idx_col}, {NGRAM})"), " ")
    )


def gram_array_expr(tok_col: str) -> str:
    """The whole-document gram-hash ARRAY as one Spark SQL expression over
    a PRE-SPLIT token-array column (no explode, codegen only) — what the
    streaming gate evaluates per row.  Taking the token array (hoisted
    once with withColumn) instead of raw text keeps the per-document cost
    linear: Spark does not hoist lambda-invariant subexpressions, so
    splitting inside the transform would re-tokenize the text once per
    gram position."""
    return (
        f"CASE WHEN size({tok_col}) < {NGRAM}"
        "  THEN cast(array() AS array<string>)"
        f" ELSE transform(sequence(1, size({tok_col}) - {NGRAM - 1}),"
        f" i -> md5(array_join(slice({tok_col}, i, {NGRAM}), ' '))) END"
    )


@register(
    "q_eval_grams",
    oracle=f"""
    WITH corpus AS ({_DECON_CORPUS_DUCK}),
    toks AS (
        SELECT doc_id, bucket, string_split_regex(trim(text), '{_WS}') AS toks
        FROM corpus WHERE bucket >= 90
    ),
    offs AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {NGRAM - 1})) AS i
        FROM toks WHERE len(toks) >= {NGRAM}
    )
    SELECT DISTINCT md5(array_to_string(toks[i:i + {NGRAM - 1}], ' ')) AS h
    FROM offs
    """,
)
def q_eval_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation set's distinct {NGRAM}-gram md5 table — EXACTLY the
    derivation q_decontaminate's test side uses, exported as its own
    query so the streaming ingest gate (streaming/doc_pipeline.py
    `eval_grams`) consumes the same table the batch filter checks
    against; batch and stream can then never disagree about what counts
    as contamination (cross-path consistency is golden-tested in
    tests/test_doc_pipeline.py).

    Scale: eval docs are a hash-bucket slice of the corpus (benchmarks
    are small by nature); grams explode in codegen, distinct on the
    32-byte hash — the output is the broadcast-sized artifact the gate
    ships to every executor."""
    corpus = _decon_corpus(spark, sf_dir).filter(F.col("bucket") >= 90)
    toks = corpus.select(
        "doc_id", F.split(F.trim("text"), _WS).alias("toks")
    ).filter(F.size("toks") >= NGRAM)
    offs = toks.select(
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (NGRAM - 1))).alias("i"),
    )
    return offs.select(gram_md5_col().alias("h")).distinct()


# ---------------------------------------------------------------------------
# Source frequency capping (domain capping)
# ---------------------------------------------------------------------------

# Max documents retained per source.  Web-scale corpora are dominated by a
# few hyper-productive domains; capping per-registered-domain document
# counts is a standard crawl-curation stage (C4 keeps <=1 page per URL,
# RefinedWeb/FineWeb cap per-domain contributions).  The fixture carries 25
# docs per source at every SF, so K=10 exercises a real 60% drop.
SOURCE_CAP_K = 10


@register(
    "q_source_cap",
    oracle=f"""
    SELECT doc_id, source, n_chars, cap_rank FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS cap_rank
        FROM documents
    ) WHERE cap_rank <= {SOURCE_CAP_K}
    """,
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping: keep at most {SOURCE_CAP_K} documents
    per source, preferring the longest (n_chars DESC — the cheap quality
    proxy; doc_id tiebreak keeps both engines deterministic on equal
    lengths).  The survivor set is what the mixer downstream
    (q_mixture_weights / q_sample_stratified) should see when one crawl
    domain would otherwise swamp its mixture slot.

    Scale posture — identical to q_topk_per_group: `row_number() <= K`
    becomes WindowGroupLimit(Partial) BEFORE the exchange (pinned in
    tests/test_plans.py), so each map partition ships at most K rows per
    source and the post-shuffle sort sees #map-partitions x #sources x K
    candidates; with ~10^6 registered domains at 100 TB the key is
    high-cardinality and skew-free by construction.  Text never moves —
    only (doc_id, source, n_chars)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return docs.withColumn("cap_rank", F.row_number().over(w)).filter(
        F.col("cap_rank") <= SOURCE_CAP_K
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

# Hashed n-gram feature space (paper §3: unigrams + bigrams hashed into a
# fixed bucket table).  512 buckets keeps the bucket-statistics relation
# broadcast-sized at ANY corpus scale — the whole point of DSIR's hashing
# trick is that the model is O(buckets), not O(vocab).
DSIR_BUCKETS = 512
# Keep fraction: the selection budget as a fraction of the raw corpus
# (paper selects a target-sized subset; 1/4 exercises both verdicts on the
# fixtures).  The log-weight threshold is DERIVED in-query from the corpus
# weight distribution — k-th largest quantized weight, k = ceil(n * frac) —
# same derived-threshold protocol as ranking.q_kn_doc_ppl.
DSIR_KEEP_FRAC = "1.0 / 4.0"
# Target distribution: English documents (lang = 'en') stand in for the
# paper's high-quality target corpus (Wikipedia/books); raw = all documents.
_DSIR_TARGET_SQL = "lang = 'en'"

# Feature stream: unigram tokens plus space-joined adjacent bigrams, hashed
# with the md5 prefix recipe shared by the minhash family (text.py) —
# conv(md5[1:15]) in Spark and '0x'||md5[1:15] in DuckDB read the same 60
# bits, so bucket ids are engine-identical.  Tokens cannot contain
# whitespace (they are WS-split runs), so the space join is collision-free
# between unigram and bigram feature strings of different arity.
_DSIR_FEATS_DUCK = f"""
    SELECT doc_id, ({_DSIR_TARGET_SQL}) AS is_target,
           unnest(list_concat(
               toks,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    ELSE CAST([] AS VARCHAR[]) END)) AS f
    FROM (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '{_WS}') AS toks
        FROM documents
    )
"""

_DSIR_BUCKET_DUCK = (
    f"('0x' || substr(md5(f), 1, 15))::BIGINT % {DSIR_BUCKETS}"
)

# The same feature hash as a Spark SQL expression over a feature string
# column/lambda variable `f` — shared by the batch explode path and the
# streaming gate's per-row aggregate (streaming/doc_pipeline.py).
DSIR_BUCKET_SPARK = (
    f"cast(conv(substr(md5(f), 1, 15), 16, 10) AS bigint) % {DSIR_BUCKETS}"
)

# Unigram+bigram feature ARRAY over a pre-split token-array column — the
# no-explode form the streaming gate folds per row (same guard against
# Spark's descending sequence(1, 0) as the batch side).
def dsir_feat_array_expr(tok_col: str) -> str:
    return (
        f"concat({tok_col}, CASE WHEN size({tok_col}) >= 2"
        f" THEN transform(sequence(1, size({tok_col}) - 1),"
        f" i -> concat({tok_col}[i - 1], ' ', {tok_col}[i]))"
        " ELSE cast(array() AS array<string>) END)"
    )


def _dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, is_target, f) feature rows."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(_DSIR_TARGET_SQL).alias("is_target"),
            F.split(F.trim(F.lower("text")), _WS).alias("toks"),
        )
        .select(
            "doc_id",
            "is_target",
            F.explode(F.expr(dsir_feat_array_expr("toks"))).alias("f"),
        )
    )


def _dsir_bstats(spark: SparkSession, sf_dir: str, dfeat: DataFrame | None = None):
    """((doc_id, bucket, n) counts, (bucket, r_b, t_b) stats, 1-row tots).

    NOT materialized for the single registered query: an
    eager-localCheckpoint variant (bstats + perdoc barriers, 2 corpus
    passes instead of the 9 redundant FileScans this lazy plan compiles
    to) measured CONSISTENTLY SLOWER — 37-38 s vs 25-34 s at sf1, 3
    interleaved A/B pairs — because the barriers serialize three jobs
    that the single lazy job overlaps; the redundancy is a pipelined
    constant factor, not a scaling term.
    train_dsir is the exception: THREE separate driver actions share one
    checkpointed dfeat there, passed in via the `dfeat` override."""
    if dfeat is None:
        dfeat = (
            _dsir_feats(spark, sf_dir)
            .withColumn("bucket", F.expr(DSIR_BUCKET_SPARK))
            .groupBy("doc_id", "is_target", "bucket")
            .agg(F.count("*").cast("long").alias("n"))
        )
    bstats = dfeat.groupBy("bucket").agg(
        F.sum("n").cast("double").alias("r_b"),
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(F.lit(0)))
        .cast("double")
        .alias("t_b"),
    )
    tots = bstats.agg(
        F.sum("r_b").cast("double").alias("r_tot"),
        F.sum("t_b").cast("double").alias("t_tot"),
    )
    return dfeat, bstats, tots


def dsir_model_table(
    spark: SparkSession, sf_dir: str, dfeat: DataFrame | None = None
) -> DataFrame:
    """(bucket, lr_b) log-ratio table with UNROUNDED doubles — what a
    serving/streaming gate broadcasts (the registered query's outputs are
    4 dp display precision; consumers doing further arithmetic read
    this).  {DSIR_BUCKETS} rows at any corpus scale."""
    _, bstats, tots = _dsir_bstats(spark, sf_dir, dfeat)
    nb = F.lit(float(DSIR_BUCKETS))
    return bstats.crossJoin(F.broadcast(tots)).select(
        "bucket",
        (
            F.log((F.col("t_b") + F.lit(1.0)) / (F.col("t_tot") + nb))
            - F.log((F.col("r_b") + F.lit(1.0)) / (F.col("r_tot") + nb))
        ).alias("lr_b"),
    )


def dsir_unseen_lr(
    spark: SparkSession, sf_dir: str, dfeat: DataFrame | None = None
) -> float:
    """The log-ratio of a bucket the training corpus never populated —
    ln((r_tot + B)/(t_tot + B)) under add-1 smoothing.  A stream document
    can hash features into such buckets; the gate scores them with this
    constant instead of silently skipping them."""
    import math

    _, _, tots = _dsir_bstats(spark, sf_dir, dfeat)
    row = tots.first()
    b = float(DSIR_BUCKETS)
    return math.log((row["r_tot"] + b) / (row["t_tot"] + b))


def _dsir_perdoc(
    spark: SparkSession, sf_dir: str, dfeat: DataFrame | None = None
) -> DataFrame:
    """(doc_id, n_feats, logw, logw_q) — shared by the registered query
    and dsir_keep_threshold.  logw is a length-proportional sum (each
    feature contributes one bounded log-ratio, but feature count is
    unbounded), so its quantization is GUARDED: past |logw| ~ 1e9 the
    6 dp grain is sub-ULP and Spark's floor->LONG would saturate where
    DuckDB stays DOUBLE, diverging the engines (same class as
    q_kmeans_step's distances)."""
    dfeat, _, _ = _dsir_bstats(spark, sf_dir, dfeat)
    lr = dsir_model_table(spark, sf_dir, dfeat)
    return (
        dfeat.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_feats"),
            F.sum(F.col("n").cast("double") * F.col("lr_b")).alias("logw"),
        )
        .withColumn("logw_q", fround_guarded(F.col("logw"), 6))
    )


def dsir_keep_threshold(
    spark: SparkSession, sf_dir: str, dfeat: DataFrame | None = None
) -> float:
    """The derived keep threshold as a scalar (k-th largest 6 dp-quantized
    corpus log-weight, k = ceil(n * {DSIR_KEEP_FRAC})) — trained offline
    and shipped to the streaming gate, exactly like the KN cutoff."""
    from ..functions.prefix import bucketed_row_number
    from ..sources.tables import is_large_input

    perdoc = _dsir_perdoc(spark, sf_dir, dfeat)
    ranked = bucketed_row_number(
        perdoc.select("logw_q", "doc_id"),
        "logw_q",
        ["doc_id"],
        descending=True,
        bucketed=is_large_input(sf_dir, "documents"),
    )
    n = perdoc.agg(F.count("*").cast("double").alias("_n"))
    return float(
        ranked.join(F.broadcast(n))
        .filter(
            F.col("rk")
            == F.ceil(F.col("_n") * F.expr(DSIR_KEEP_FRAC)).cast("long")
        )
        .first()["logw_q"]
    )


def train_dsir(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, float, float]:
    """One-pass gate-arming bundle: (model_df, unseen_lr, keep_threshold).

    Arming the streaming DSIR gate needs all three artifacts, and calling
    dsir_model_table / dsir_unseen_lr / dsir_keep_threshold separately
    rebuilds the whole feature/bucket pipeline per call — three redundant
    corpus passes on top of the documented intra-plan FileScan
    redundancy.  Here the (doc_id, is_target, bucket, n) count table is
    built ONCE, eagerly localCheckpoint-ed (the three driver actions
    cannot share a lazy plan the way the single registered query's
    subtrees do — see the _dsir_bstats materialization note), and every
    derived artifact reads it back.  Values are bit-identical to the
    separate calls; tests/test_doc_pipeline.py pins that."""
    dfeat, _, _ = _dsir_bstats(spark, sf_dir)
    dfeat = dfeat.localCheckpoint(eager=True)
    return (
        dsir_model_table(spark, sf_dir, dfeat),
        dsir_unseen_lr(spark, sf_dir, dfeat),
        dsir_keep_threshold(spark, sf_dir, dfeat),
    )


@register(
    "q_dsir_weights",
    oracle=f"""
    WITH feats AS ({_DSIR_FEATS_DUCK}),
    dfeat AS (
        SELECT doc_id, is_target, {_DSIR_BUCKET_DUCK} AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM feats GROUP BY doc_id, is_target, bucket
    ),
    bstats AS (
        SELECT bucket,
               CAST(sum(n) AS DOUBLE) AS r_b,
               CAST(sum(CASE WHEN is_target THEN n ELSE 0 END) AS DOUBLE)
                   AS t_b
        FROM dfeat GROUP BY bucket
    ),
    tots AS (
        SELECT CAST(sum(r_b) AS DOUBLE) AS r_tot,
               CAST(sum(t_b) AS DOUBLE) AS t_tot
        FROM bstats
    ),
    lr AS (
        SELECT bucket,
               ln((t_b + 1.0) / (t_tot + {DSIR_BUCKETS}.0))
                   - ln((r_b + 1.0) / (r_tot + {DSIR_BUCKETS}.0)) AS lr_b
        FROM bstats, tots
    ),
    perdoc AS (
        SELECT d.doc_id,
               CAST(sum(d.n) AS BIGINT) AS n_feats,
               sum(CAST(d.n AS DOUBLE) * lr.lr_b) AS logw
        FROM dfeat d JOIN lr USING (bucket)
        GROUP BY d.doc_id
    ),
    p2 AS (
        SELECT doc_id, n_feats, logw,
               {fround_guarded_sql("logw", 6)} AS logw_q
        FROM perdoc
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p2),
    ranked AS (
        SELECT logw_q, row_number() OVER (ORDER BY logw_q DESC, doc_id) AS rk
        FROM p2
    ),
    thr AS (
        SELECT r.logw_q AS thr
        FROM ranked r, nn
        WHERE r.rk = CAST(ceil(nn.n * ({DSIR_KEEP_FRAC})) AS BIGINT)
    )
    SELECT doc_id, n_feats,
           {fround_guarded_sql("logw")} AS dsir_logw,
           p2.logw_q >= thr.thr AS keep
    FROM p2, thr
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): estimate target (en
    documents) and raw (all documents) bag-of-hashed-ngram distributions
    over {DSIR_BUCKETS} buckets with add-1 smoothing, score every document
    with the importance log-weight

        log w(d) = sum_f  n_f(d) * (ln p_target(b(f)) - ln p_raw(b(f)))

    over its unigram+bigram features, and keep the top ceil(n * frac),
    frac = {DSIR_KEEP_FRAC}, via the derived threshold (k-th largest 6 dp
    quantized weight, ties inclusive) — the deterministic top-k limit of
    the paper's Gumbel resampling.

    Scale: the feature explode partial-aggregates to (doc_id, bucket)
    counts before its only data-scale shuffle; bucket statistics reduce to
    a {DSIR_BUCKETS}-row table (broadcast back over the per-doc counts —
    the DSIR model is O(buckets) by construction, never vocabulary-sized);
    the keep threshold adds one adaptive global rank (bucketed above the
    scale switch, functions/prefix.py) over the per-doc table, one 1-row
    aggregate, and a 1-row broadcast.  Text never rides a shuffle."""
    from ..functions.prefix import bucketed_row_number
    from ..sources.tables import is_large_input

    perdoc = _dsir_perdoc(spark, sf_dir)
    ranked = bucketed_row_number(
        perdoc.select("logw_q", "doc_id"),
        "logw_q",
        ["doc_id"],
        descending=True,
        bucketed=is_large_input(sf_dir, "documents"),
    )
    n = perdoc.agg(F.count("*").cast("double").alias("_n"))
    thr = (
        ranked.join(F.broadcast(n))
        .filter(
            F.col("rk")
            == F.ceil(F.col("_n") * F.expr(DSIR_KEEP_FRAC)).cast("long")
        )
        .select(F.col("logw_q").alias("thr"))
    )
    return perdoc.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_feats",
        fround_guarded(F.col("logw"), 4).alias("dsir_logw"),
        (F.col("logw_q") >= F.col("thr")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# DoReMi domain-weight update step (Xie et al. 2023, NeurIPS)
# ---------------------------------------------------------------------------

# One multiplicative-weights update of the Group-DRO mixture, with unigram
# LMs standing in for the proxy/reference pair (the same one-iteration
# discipline as q_kmeans_step / q_embed_centroids).  Shared literals.
DOREMI_ETA = "1.0"  # multiplicative-update step size
DOREMI_SMOOTH = "0.01"  # uniform-mixture smoothing (paper's smoothing param)


@register(
    "q_doremi_weights",
    oracle=f"""
    WITH toks AS (
        SELECT lang AS domain, unnest(
            string_split_regex(trim(lower(text)), '{_WS}')) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    docs AS (
        SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents WHERE text IS NOT NULL GROUP BY lang
    ),
    dt AS (
        SELECT domain, token, CAST(count(*) AS BIGINT) AS c_dt
        FROM toks GROUP BY domain, token
    ),
    dtot AS (
        SELECT domain, CAST(sum(c_dt) AS DOUBLE) AS t_d FROM dt GROUP BY domain
    ),
    ct AS (
        SELECT token, CAST(sum(c_dt) AS DOUBLE) AS c_t FROM dt GROUP BY token
    ),
    tot AS (
        SELECT CAST(sum(c_t) AS DOUBLE) AS t,
               CAST(count(*) AS DOUBLE) AS v
        FROM ct
    ),
    nll AS (
        SELECT dt.domain,
               sum(CAST(dt.c_dt AS DOUBLE) * (0.0 - ln(ct.c_t / tot.t)))
                   AS nll_shared,
               sum(CAST(dt.c_dt AS DOUBLE)
                   * (0.0 - ln((CAST(dt.c_dt AS DOUBLE) + 1.0)
                               / (dtot.t_d + tot.v)))) AS nll_own
        FROM dt
        JOIN ct USING (token)
        JOIN dtot USING (domain), tot
        GROUP BY dt.domain
    ),
    ex AS (
        SELECT n.domain, d.t_d,
               greatest({fround_sql("(n.nll_shared - n.nll_own) / d.t_d", 6)},
                        0.0) AS excess
        FROM nll n JOIN dtot d USING (domain)
    ),
    raw AS (
        SELECT domain, t_d, excess,
               (t_d / tot.t) * exp({DOREMI_ETA} * excess) AS w_raw
        FROM ex, tot
    ),
    nrm AS (SELECT sum(w_raw) AS z, CAST(count(*) AS DOUBLE) AS k FROM raw)
    SELECT r.domain, docs.n_docs, CAST(r.t_d AS BIGINT) AS n_tokens,
           {fround_sql("r.excess")} AS excess_loss,
           {fround_sql(
               f"(1.0 - {DOREMI_SMOOTH}) * r.w_raw / nrm.z"
               f" + {DOREMI_SMOOTH} / nrm.k", 6)} AS weight
    FROM raw r JOIN docs USING (domain), nrm
    """,
)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain-weight update (Xie et al. 2023, "DoReMi: Optimizing
    Data Mixtures Speeds Up Language Model Pretraining"): one
    multiplicative-weights step of the Group-DRO mixture over the
    corpus's language domains,

        w_d  ∝  base_d * exp(eta * excess_d),   eta = {DOREMI_ETA}

    then smoothed with the uniform mixture (c = {DOREMI_SMOOTH}), where
    base_d is the domain's token share and excess_d is the per-token
    excess loss max(0, L_shared(d) - L_domain(d)) — how much worse the
    SHARED model serves domain d than a domain-fit model.  Unigram LMs
    stand in for the paper's trained proxy/reference pair (shared =
    corpus-MLE unigram, domain-fit = add-1-smoothed per-domain unigram
    over the corpus vocabulary), the same one-iteration stand-in
    discipline as q_kmeans_step; domains the shared model underserves
    (high excess loss) are exactly the ones Group DRO upweights, so the
    update's ordering behavior is the paper's.  A training pipeline
    loops this: re-fit proxy under the new mixture, re-score, update.

    Determinism: all counts are exact ints; both engines fold the
    per-domain NLL sums over identical (domain, token) groups and the
    excess is 6 dp-quantized (biased fround) before exp/normalize, so
    the 5-row output hashes identically.

    Scale: token counts partial-aggregate before their only shuffle
    (vocabulary-bounded tables after that); the domain tables are
    O(#domains) and O(vocab) — the mixture math never touches corpus
    rows again.  At 100 TB the NLL scoring is one pass over the
    (domain, token) count table, not the corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.col("lang").alias("domain"),
        F.explode(F.split(F.trim(F.lower("text")), _WS)).alias("token"),
    )
    ndocs = docs.groupBy(F.col("lang").alias("domain")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    dt = toks.groupBy("domain", "token").agg(
        F.count("*").cast("long").alias("c_dt")
    )
    dtot = dt.groupBy("domain").agg(
        F.sum("c_dt").cast("double").alias("t_d")
    )
    ct = dt.groupBy("token").agg(F.sum("c_dt").cast("double").alias("c_t"))
    tot = ct.agg(
        F.sum("c_t").cast("double").alias("t"),
        F.count("*").cast("double").alias("v"),
    )
    nll = (
        dt.join(ct, "token")
        .join(dtot, "domain")
        .join(F.broadcast(tot))
        .groupBy("domain")
        .agg(
            F.sum(
                F.col("c_dt").cast("double")
                * (F.lit(0.0) - F.log(F.col("c_t") / F.col("t")))
            ).alias("nll_shared"),
            F.sum(
                F.col("c_dt").cast("double")
                * (
                    F.lit(0.0)
                    - F.log(
                        (F.col("c_dt").cast("double") + F.lit(1.0))
                        / (F.col("t_d") + F.col("v"))
                    )
                )
            ).alias("nll_own"),
        )
    )
    ex = nll.join(dtot, "domain").select(
        "domain",
        "t_d",
        F.greatest(
            fround(
                (F.col("nll_shared") - F.col("nll_own")) / F.col("t_d"), 6
            ),
            F.lit(0.0),
        ).alias("excess"),
    )
    raw = ex.join(F.broadcast(tot)).select(
        "domain",
        "t_d",
        "excess",
        (
            (F.col("t_d") / F.col("t"))
            * F.exp(F.expr(f"CAST({DOREMI_ETA} AS DOUBLE)") * F.col("excess"))
        ).alias("w_raw"),
    )
    nrm = raw.agg(
        F.sum("w_raw").alias("z"), F.count("*").cast("double").alias("k")
    )
    smooth = F.expr(f"CAST({DOREMI_SMOOTH} AS DOUBLE)")
    return (
        raw.join(ndocs, "domain")
        .join(F.broadcast(nrm))
        .select(
            "domain",
            "n_docs",
            F.col("t_d").cast("long").alias("n_tokens"),
            fround(F.col("excess"), 4).alias("excess_loss"),
            fround(
                (F.lit(1.0) - smooth) * F.col("w_raw") / F.col("z")
                + smooth / F.col("k"),
                6,
            ).alias("weight"),
        )
    )
