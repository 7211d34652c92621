"""Beyond-reference similarity search over `embeddings` (array<float>, 64-d):
exact top-k cosine KNN, sign-random-projection LSH candidate generation, and
IVF-style cell-pruned search (SURVEY.md §7.2 step 6).

Design rules:

- **JVM-side vector math wherever a float reaches the output.** Every
  dot product, distance and norm comes from functions/vectors.py, in
  Spark as an unrolled sum of literal-index array reads inside codegen
  and in DuckDB as its list_reduce twin; floats are cast to double BEFORE
  multiplying so both engines accumulate identical doubles in identical
  element order — hash-exactness demands order-identical summation.  The ONE
  exception is q_knn_classify's scorer: its output carries labels and
  vote counts only (no floats), so the dense |test| x |corpus| matmul —
  the workload where interpreted codegen loses ~60x to vectorized C —
  runs as an Arrow-batched BLAS stage (mapInPandas, partition-local
  top-k), with DuckDB parity pinned at sf0.001/0.01/0.1 and an
  independent numpy golden recompute (tests/test_similarity.py).
- **No cartesian product at scale.** The exact KNN broadcasts the (small)
  query batch against the corpus — the corpus never shuffles, and per-query
  top-k is computed per-partition first, so only #partitions x k candidates
  reach the final ranking.  The LSH and IVF variants prune the corpus
  *before* any pairing: band-bucket equi-joins / cell equi-joins only.
- **Deterministic LSH.** Hyperplane signs derive from md5 parity of
  (plane, dim) — reproducible in SQL on both engines, so even the
  "approximate" variants are exactly oracle-checked; approximation quality
  itself is asserted in tests/test_similarity.py (recall vs brute force).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import fround, fround_sql
from ..functions.vectors import (
    DIM,
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

N_QUERIES = 10  # query batch: vec_id < 10
K = 5


def _perturb_sql(dim: int) -> str:
    """array<float> literal-index copy of `embedding` with +0.05 on the
    1-based `dim` — the unrolled twin of the transform(sequence(...))
    lambda form (identical values, no per-element interpretation)."""
    return (
        "array("
        + ", ".join(
            f"embedding[{i}] + cast(0.05 AS float)"
            if i == dim - 1
            else f"embedding[{i}]"
            for i in range(DIM)
        )
        + ")"
    )


_QUERIES_DUCK = f"""
    SELECT vec_id AS query_id,
           {as_double_duck("embedding")} AS q_emb,
           {norm_duck("embedding", cast=True)} AS q_norm, label
    FROM embeddings WHERE vec_id < {N_QUERIES}
"""
_CORPUS_DUCK = f"""
    SELECT vec_id AS neighbor_id,
           {as_double_duck("embedding")} AS c_emb,
           {norm_duck("embedding", cast=True)} AS c_norm, label
    FROM embeddings
"""


def _query_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.expr(as_double_spark("embedding")).alias("q_emb"),
        F.expr(norm_spark("embedding", cast=True)).alias("q_norm"),
        "label",
    )


def _corpus_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(as_double_spark("embedding")).alias("c_emb"),
        F.expr(norm_spark("embedding", cast=True)).alias("c_norm"),
        "label",
    )


def _qc_cos() -> Column:
    """Cosine of a _query_side row against a _corpus_side row."""
    return F.expr(dot_spark("q_emb", "c_emb")) / (F.col("q_norm") * F.col("c_norm"))


def _topk_over_candidates(scored: DataFrame, k: int) -> DataFrame:
    """Top-k per query via a rank-limited window.  Catalyst rewrites the
    `row_number() <= k` filter into WindowGroupLimit(Partial) before the
    exchange (see queries/analytics.py::q_topk_per_group and
    tests/test_plans.py), so each map partition ships at most k candidates
    per query — partition-local top-k with sort-backed spillable memory,
    no O(partition-size) collect_list buffer.  `scored` must have
    (query_id, neighbor_id, cos_sim)."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            fround(F.col("cos_sim"), 4).alias("cos_sim"),
            "rank",
        )
    )


@register(
    "q_embed_knn",
    oracle=f"""
    WITH q AS ({_QUERIES_DUCK}),
    c AS ({_CORPUS_DUCK}),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               {dot_duck("q.q_emb", "c.c_emb")} / (q.q_norm * c.c_norm) AS cos_sim
        FROM q, c
        WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id,
           {fround_sql("cos_sim")} AS cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {K}
    """,
)
def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine KNN: a small query batch against the full corpus —
    the baseline every ANN variant is measured against.

    Scale: the query batch is broadcast (BroadcastNestedLoopJoin); the
    corpus is scanned once, never shuffled, and each partition emits only
    its local top-k per query, so the final ranking sees #partitions x k
    rows — this is the canonical brute-force KNN shape on a cluster."""
    q = _query_side(spark, sf_dir).drop("label")
    c = _corpus_side(spark, sf_dir).drop("label")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _qc_cos().alias("cos_sim"),
        )
    )
    return _topk_over_candidates(scored, K)


# ---------------------------------------------------------------------------
# Sign-random-projection LSH
# ---------------------------------------------------------------------------

N_PLANES = 16  # signature bits
N_BANDS = 4  # 4 bands x 4 bits
_BAND_BITS = N_PLANES // N_BANDS

# r(p, d) in {-1, +1} from the parity of the first md5 nibble of "p:d".
# The matrix is CONSTANT, so it is computed once here with hashlib (python's
# md5 == both engines' md5) and inlined as literals — no per-row hashing,
# bit-identical output (same signs, same left-to-right fold order).
import hashlib as _hashlib


def _srp_sign(p: int, d: int) -> int:
    nib = _hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0]
    return 1 - 2 * (int(nib, 16) % 2)


def _sig_spark(planes: list[list[int]]) -> str:
    """Signature as a constant-folded matrix literal + zip_with dot product
    per plane — Catalyst folds the nested array() of literals into one
    Literal, so each row only multiplies.  (Fully inlining 64-term sums into
    the plan was tried and blew up codegen/driver memory at 32 threads.)"""
    r = (
        "array("
        + ", ".join("array(" + ", ".join(map(str, row)) + ")" for row in planes)
        + ")"
    )
    return (
        f"concat_ws('', transform(sequence(0, {len(planes) - 1}), p -> "
        f"CASE WHEN aggregate(zip_with(emb_d, element_at({r}, p + 1), "
        "(x, s) -> x * s), cast(0 AS double), (acc, x) -> acc + x) >= 0 "
        "THEN '1' ELSE '0' END))"
    )


def _sig_duck(planes: list[list[int]]) -> str:
    """DuckDB twin as explicit per-plane sum chains (a literal list inside a
    lambda is re-materialized per element access there — quadratic).  Same
    left-to-right fold order as Spark's aggregate, so bit-identical."""
    cases = []
    for row in planes:
        terms = " + ".join(f"emb_d[{d + 1}] * ({row[d]})" for d in range(DIM))
        cases.append(f"(CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(cases)


_SIGNS = [[_srp_sign(p, d) for d in range(1, DIM + 1)] for p in range(N_PLANES)]
_SIG_SPARK = _sig_spark(_SIGNS)
_SIG_DUCK = _sig_duck(_SIGNS)

# Near-dup self-join needs a finer sketch than the 10-query batch: 16-bit
# signatures give only 2^4 keys per band, so corpus buckets at sf0.1 hold
# ~300 rows each and candidate pairs explode quadratically.  48 planes in
# 4 bands x 12 bits keep planted near-twins (cos ~0.999: per-bit agreement
# ~0.98 -> band hit ~0.83, >=1-of-4 ~99.9%) while random pairs collide at
# ~4/4096.
N_PLANES_ND = 48
_BAND_BITS_ND = 12
_SIGNS_ND = [[_srp_sign(p, d) for d in range(1, DIM + 1)] for p in range(N_PLANES_ND)]
_SIG_SPARK_ND = _sig_spark(_SIGNS_ND)
_SIG_DUCK_ND = _sig_duck(_SIGNS_ND)


@register(
    "q_embed_knn_lsh",
    oracle=f"""
    WITH q0 AS ({_QUERIES_DUCK}),
    c0 AS ({_CORPUS_DUCK}),
    qs AS (
        SELECT query_id, q_emb, q_norm, {_SIG_DUCK.replace("emb_d", "q_emb")} AS sig
        FROM q0
    ),
    cs AS (
        SELECT neighbor_id, c_emb, c_norm, {_SIG_DUCK.replace("emb_d", "c_emb")} AS sig
        FROM c0
    ),
    qb AS (
        SELECT query_id, q_emb, q_norm, b.band,
               substr(sig, b.band * {_BAND_BITS} + 1, {_BAND_BITS}) AS band_key
        FROM qs, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
    ),
    cb AS (
        SELECT neighbor_id, c_emb, c_norm, b.band,
               substr(sig, b.band * {_BAND_BITS} + 1, {_BAND_BITS}) AS band_key
        FROM cs, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT q.query_id, c.neighbor_id, q.q_emb, q.q_norm, c.c_emb, c.c_norm
        FROM qb q JOIN cb c ON q.band = c.band AND q.band_key = c.band_key
        WHERE c.neighbor_id <> q.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {dot_duck("q_emb", "c_emb")}
                   / (q_norm * c_norm) AS cos_sim
        FROM cand
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id,
           {fround_sql("cos_sim")} AS cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {K}
    """,
)
def q_embed_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate KNN — the 100 TB scale path.

    Each vector gets a 16-bit sign-random-projection signature; queries and
    corpus meet ONLY inside matching (band, 4-bit band-key) buckets — an
    equi-join on a bounded key space, no cross product anywhere in the plan.
    Exact cosine is computed on the candidates, top-k per query.  The
    hyperplanes are md5-derived constants, so the whole query is
    deterministic and oracle-checked; recall vs the exact q_embed_knn is
    asserted separately in tests/test_similarity.py."""
    q = (
        _query_side(spark, sf_dir)
        .withColumnRenamed("q_emb", "emb_d")
        .withColumn("sig", F.expr(_SIG_SPARK))
        .withColumnRenamed("emb_d", "q_emb")
        .drop("label")
    )
    c = (
        _corpus_side(spark, sf_dir)
        .withColumnRenamed("c_emb", "emb_d")
        .withColumn("sig", F.expr(_SIG_SPARK))
        .withColumnRenamed("emb_d", "c_emb")
        .drop("label")
    )
    band = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band")
    qb = q.select("query_id", "q_emb", "q_norm", "sig", band).withColumn(
        "band_key", F.expr(f"substr(sig, band * {_BAND_BITS} + 1, {_BAND_BITS})")
    )
    cb = c.select("neighbor_id", "c_emb", "c_norm", "sig", band).withColumn(
        "band_key", F.expr(f"substr(sig, band * {_BAND_BITS} + 1, {_BAND_BITS})")
    )
    # Dedup-THEN-score, deliberately NOT the _minhash_pairs r12 move
    # (score-before-dedup): the score is a 64-double dot and a true
    # neighbor collides in several bands, so scoring per band-copy
    # multiplies the dominant per-candidate compute.  Measured in r12,
    # when the dot was an interpreted zip_with/aggregate fold, interleaved
    # old/new at the 10x fixture: 2.60/2.86 s dedup-first vs 4.11 s
    # score-first (guide §1.2: an expensive per-row op feeds back into
    # the algorithm choice).  The dot has been an unrolled codegen'd sum
    # since r13; q_embed_near_dup re-measured the same order then and
    # kept it.  SimHash/MinHash pair queries keep score-first because
    # their scores are cheap codegen'd integer ops.
    cand = (
        cb.join(F.broadcast(qb.drop("sig")), ["band", "band_key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _qc_cos().alias("cos_sim"),
    )
    return _topk_over_candidates(scored, K)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (corpus self-join)
# ---------------------------------------------------------------------------

NEAR_DUP_COS = 0.95

# Planted near-duplicates: every 25th vector re-appears under vec_id+10000
# with a tiny deterministic perturbation (+0.05 on dim 1): cosine ~0.999.
_ND_CORPUS_DUCK = f"""
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 10000 AS vec_id,
           list_transform(generate_series(1, {DIM}),
                          i -> CASE WHEN i = 1 THEN embedding[i] + 0.05::FLOAT
                                    ELSE embedding[i] END) AS embedding
    FROM embeddings WHERE vec_id % 25 = 0
"""


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    perturbed = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(_perturb_sql(1)).alias("embedding"),
    )
    return emb.unionByName(perturbed)


@register(
    "q_embed_near_dup",
    oracle=f"""
    WITH corpus AS ({_ND_CORPUS_DUCK}),
    c0 AS (
        SELECT vec_id AS neighbor_id,
               {as_double_duck("embedding")} AS c_emb,
               {norm_duck("embedding", cast=True)} AS c_norm
        FROM corpus
    ),
    cs AS (
        SELECT neighbor_id, c_emb, c_norm,
               {_SIG_DUCK_ND.replace("emb_d", "c_emb")} AS sig
        FROM c0
    ),
    cb AS (
        SELECT neighbor_id, c_emb, c_norm, b.band,
               substr(sig, b.band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND}) AS band_key
        FROM cs, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.neighbor_id AS id_a, a.c_emb AS emb_a, a.c_norm AS norm_a,
                        b.neighbor_id AS id_b, b.c_emb AS emb_b, b.c_norm AS norm_b
        FROM cb a JOIN cb b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.neighbor_id < b.neighbor_id
    ),
    scored AS (
        SELECT id_a, id_b,
               {dot_duck("emb_a", "emb_b")} / (norm_a * norm_b) AS cos_sim
        FROM cand
    )
    SELECT id_a, id_b, {fround_sql("cos_sim")} AS cos_sim
    FROM scored WHERE cos_sim >= {NEAR_DUP_COS}
    """,
)
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over the WHOLE corpus — the
    dedup-shaped sibling of q_embed_knn_lsh: instead of a small query batch,
    every vector searches for its near-twins, so the join must be
    self-bucketed (corpus x corpus through SRP band buckets, never a cross
    product).  Exact cosine on candidates, keep pairs >= 0.95.

    Scale: a corpus self-join needs finer buckets than the query-batch LSH —
    48 planes in 4 bands x 12 bits put random pairs in the same bucket with
    probability ~2^-12 per band, while near-twins (per-bit agreement ~0.98)
    still collide in >=1 band with ~99.9% probability.  The band keys are
    fixed-width, so random collisions grow as N^2 / 2^12: candidate volume
    is quadratic in the corpus (the candidate shuffle grows 86x on the 10x
    replica; SUPERLINEAR in tests/test_registry_pass.py).  The 64-float
    embedding rides the join once; norms are precomputed per row."""
    c = _near_dup_corpus(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(as_double_spark("embedding")).alias("c_emb"),
        F.expr(norm_spark("embedding", cast=True)).alias("c_norm"),
    )
    sigged = (
        c.withColumnRenamed("c_emb", "emb_d")
        .withColumn("sig", F.expr(_SIG_SPARK_ND))
        .withColumnRenamed("emb_d", "c_emb")
    )
    band = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band")
    cb = sigged.select("neighbor_id", "c_emb", "c_norm", "sig", band).withColumn(
        "band_key",
        F.expr(f"substr(sig, band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND})"),
    )
    a = cb.select(
        F.col("neighbor_id").alias("id_a"),
        F.col("c_emb").alias("emb_a"),
        F.col("c_norm").alias("norm_a"),
        "band",
        "band_key",
    )
    b = cb.select(
        F.col("neighbor_id").alias("id_b"),
        F.col("c_emb").alias("emb_b"),
        F.col("c_norm").alias("norm_b"),
        "band",
        "band_key",
    )
    # Dedup-THEN-score, re-measured and KEPT in r13.  r12's reason (the
    # interpreted 64-double fold multiplied per band copy) is gone — the
    # dot is codegen'd now — but the order still loses measurably with
    # score-first: Catalyst pushes the >= cut into the join condition
    # (dot evaluated twice per band copy, ~8x per true near-twin), and
    # the two-tree interleaved A/B read score-first consistently slower
    # at sf0.1 (mins 1.93 dedup-first vs 3.30 score-first) and slightly
    # slower at 10x (7.99 vs 8.95).  The cluster-port caveat stands: on a
    # NIC-bound shuffle the 512 B-embeddings-to-scalars exchange shrink
    # may flip this — both-way numbers recorded here for that round.
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    dot = F.expr(dot_spark("emb_a", "emb_b"))
    return (
        cand.select(
            "id_a",
            "id_b",
            (dot / (F.col("norm_a") * F.col("norm_b"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_COS)
        .select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))
    )


@register(
    "q_embed_ivf",
    oracle=f"""
    WITH q AS ({_QUERIES_DUCK}),
    c AS ({_CORPUS_DUCK}),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               {dot_duck("q.q_emb", "c.c_emb")} / (q.q_norm * c.c_norm) AS cos_sim
        FROM q JOIN c ON q.label = c.label
        WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id,
           {fround_sql("cos_sim")} AS cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {K}
    """,
)
def q_embed_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style cell-pruned KNN: `label` plays the precomputed coarse-
    quantizer cell (how IVF works operationally — cells are assigned
    offline), and a query probes only its own cell.

    Scale: this is a plain equi-join on the cell id — the corpus can be
    PARTITIONED BY cell on disk, giving partition-pruned scans: a query
    batch touching 3 cells reads 3/nlist of the data.  Search cost drops by
    the cell fan-out at the price of recall near cell boundaries (the
    standard IVF trade; nprobe > 1 = join against a small query-to-cells
    expansion table)."""
    q = _query_side(spark, sf_dir)
    c = _corpus_side(spark, sf_dir)
    scored = (
        c.join(F.broadcast(q), "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _qc_cos().alias("cos_sim"),
        )
    )
    return _topk_over_candidates(scored, K)


# ---------------------------------------------------------------------------
# k-means assignment + centroid update (one Lloyd iteration)
# ---------------------------------------------------------------------------

N_CENTROIDS = 8  # seeds: vec_id < 8 (deterministic, like the query batch)

@register(
    "q_embed_centroids",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    s AS (
        SELECT vec_id AS cluster_id,
               {as_double_duck("embedding")} AS semb
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    assign AS (
        SELECT c.vec_id,
               min(struct_pack(d := {sqdist_duck("c.emb", "s.semb")}, c := s.cluster_id)).c
                   AS cluster_id
        FROM c, s
        GROUP BY c.vec_id
    ),
    expl AS (
        SELECT a.cluster_id, u.i AS dim, c.emb[u.i + 1] AS val
        FROM assign a
        JOIN c USING (vec_id),
             (SELECT unnest(generate_series(0, {DIM - 1})) AS i) u
    )
    SELECT cluster_id, CAST(dim AS INT) AS dim,
           {fround_sql("avg(val)")} AS centroid,
           CAST(count(*) AS BIGINT) AS n_members
    FROM expl
    GROUP BY cluster_id, dim
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration over the embedding corpus: assign every
    vector to its nearest of {N_CENTROIDS} deterministic seed centroids
    (squared L2), then recompute each centroid as the per-dimension member
    mean — the iterative-algorithm representative of the tier (clustering
    for corpus curation / IVF cell training).  Output grain is
    (cluster_id, dim) so the result is scalar-typed and hash-comparable.

    Scale: seeds broadcast (K x 64 doubles); the corpus never shuffles to
    be scored — assignment is min-over-struct with map-side partial
    aggregation, so the K candidate rows per vector collapse to one BEFORE
    the only full shuffle (on vec_id).  The tie-break is lexicographic
    (dist, cluster_id) in BOTH engines, and both accumulate the distance in
    identical element order, so assignment is bit-deterministic.  The
    centroid update is a (cluster, dim)-keyed partial agg — 64x#clusters
    output rows.  Further iterations chain the same two steps."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", F.expr(as_double_spark("embedding")).alias("emb"))
    s = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cluster_id"),
        F.expr(as_double_spark("embedding")).alias("semb"),
    )
    dist = F.expr(sqdist_spark("emb", "semb"))
    assign = (
        c.crossJoin(F.broadcast(s))
        .select("vec_id", "emb", F.struct(dist.alias("d"), F.col("cluster_id").alias("c")).alias("dc"))
        .groupBy("vec_id")
        # first(emb) is deterministic here: every row in a vec_id group
        # carries the identical embedding (the K seed-candidate rows fan
        # out from one corpus row), so "any" == "the" value.
        .agg(F.min("dc").alias("m"), F.first("emb").alias("emb"))
        .select("vec_id", F.col("m.c").alias("cluster_id"), "emb")
    )
    expl = assign.select(
        "cluster_id", F.posexplode("emb").alias("dim", "val")
    )
    return expl.groupBy("cluster_id", "dim").agg(
        fround(F.avg("val"), 4).alias("centroid"),
        F.count("*").cast("long").alias("n_members"),
    ).select("cluster_id", F.col("dim").cast("int").alias("dim"), "centroid", "n_members")


# ---------------------------------------------------------------------------
# Semantic test-set decontamination (train vs eval, broadcast band join)
# ---------------------------------------------------------------------------

DECON_COS = 0.95

# md5 split buckets (same convention as queries/prep.py::q_train_test_split):
# bucket >= 97 is the 3% held-out eval set, the rest is training corpus.
_VBUCKET_SPARK = (
    "cast(cast(conv(substr(md5(cast(vec_id AS string)), 1, 15), 16, 10) "
    "AS bigint) % 100 AS int)"
)
_VBUCKET_DUCK = (
    "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 100 "
    "AS INT)"
)
_EVAL_CUT = 97

# Planted contamination: every 3rd eval vector re-enters the TRAINING side
# under vec_id+20000 with the near-dup perturbation (+0.05 on dim 1,
# cosine ~0.999) — so decontamination recall is oracle-checked, exactly
# like the n-gram variant (queries/curation.py::q_decontaminate).
_DECON_TRAIN_DUCK = f"""
    SELECT vec_id, embedding FROM embeddings WHERE {_VBUCKET_DUCK} < {_EVAL_CUT}
    UNION ALL
    SELECT vec_id + 20000 AS vec_id,
           list_transform(generate_series(1, {DIM}),
                          i -> CASE WHEN i = 1 THEN embedding[i] + 0.05::FLOAT
                                    ELSE embedding[i] END) AS embedding
    FROM embeddings
    WHERE {_VBUCKET_DUCK} >= {_EVAL_CUT} AND vec_id % 3 = 0
"""
_DECON_EVAL_DUCK = f"""
    SELECT vec_id, embedding FROM embeddings WHERE {_VBUCKET_DUCK} >= {_EVAL_CUT}
"""


def _decon_sides(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bucket = F.expr(_VBUCKET_SPARK)
    train = emb.filter(bucket < _EVAL_CUT)
    eval_ = emb.filter(bucket >= _EVAL_CUT)
    planted = eval_.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.expr(_perturb_sql(1)).alias("embedding"),
    )
    return train.unionByName(planted), eval_


@register(
    "q_semantic_decontaminate",
    oracle=f"""
    WITH train0 AS ({_DECON_TRAIN_DUCK}),
    eval0 AS ({_DECON_EVAL_DUCK}),
    t0 AS (
        SELECT vec_id AS train_id,
               {as_double_duck("embedding")} AS t_emb,
               {norm_duck("embedding", cast=True)} AS t_norm
        FROM train0
    ),
    e0 AS (
        SELECT vec_id AS eval_id,
               {as_double_duck("embedding")} AS e_emb,
               {norm_duck("embedding", cast=True)} AS e_norm
        FROM eval0
    ),
    ts AS (
        SELECT train_id, t_emb, t_norm,
               {_SIG_DUCK_ND.replace("emb_d", "t_emb")} AS sig
        FROM t0
    ),
    es AS (
        SELECT eval_id, e_emb, e_norm,
               {_SIG_DUCK_ND.replace("emb_d", "e_emb")} AS sig
        FROM e0
    ),
    tb AS (
        SELECT train_id, t_emb, t_norm, b.band,
               substr(sig, b.band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND}) AS band_key
        FROM ts, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
    ),
    eb AS (
        SELECT eval_id, e_emb, e_norm, b.band,
               substr(sig, b.band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND}) AS band_key
        FROM es, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT t.train_id, t.t_emb, t.t_norm, e.eval_id, e.e_emb, e.e_norm
        FROM tb t JOIN eb e ON t.band = e.band AND t.band_key = e.band_key
    ),
    scored AS (
        SELECT train_id, eval_id,
               {fround_sql(f"{dot_duck('t_emb', 'e_emb')} / (t_norm * e_norm)")}
                   AS cos_sim
        FROM cand
    ),
    flagged AS (
        SELECT train_id, max(cos_sim) AS best_cos
        FROM scored WHERE cos_sim >= {DECON_COS}
        GROUP BY train_id
    )
    SELECT f.train_id,
           min(s.eval_id) AS matched_eval_id,
           f.best_cos AS cos_sim
    FROM flagged f JOIN scored s
      ON s.train_id = f.train_id AND s.cos_sim = f.best_cos
    GROUP BY f.train_id, f.best_cos
    """,
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic test-set decontamination: flag training vectors whose
    embedding cosine against ANY held-out eval vector is >= 0.95 —
    the embedding-space sibling of 13-gram decontamination
    (queries/curation.py::q_decontaminate), catching paraphrased
    contamination that exact n-grams miss.  Output: one row per
    contaminated training vector with its best-matching eval item.

    Scale: the asymmetry is the whole design — eval sets are thousands of
    rows while the training corpus is the 100 TB side, so the eval band
    table BROADCASTS and the training side never shuffles: band explode,
    broadcast hash join, cosine filter, then a partial-agg argmax per
    train id.  Contrast with q_embed_near_dup, whose corpus self-join has
    no small side and must shuffle on band keys."""
    train, eval_ = _decon_sides(spark, sf_dir)
    t = train.select(
        F.col("vec_id").alias("train_id"),
        F.expr(as_double_spark("embedding")).alias("emb_d"),
        F.expr(norm_spark("embedding", cast=True)).alias("t_norm"),
    ).withColumn("sig", F.expr(_SIG_SPARK_ND)).withColumnRenamed("emb_d", "t_emb")
    e = eval_.select(
        F.col("vec_id").alias("eval_id"),
        F.expr(as_double_spark("embedding")).alias("emb_d"),
        F.expr(norm_spark("embedding", cast=True)).alias("e_norm"),
    ).withColumn("sig", F.expr(_SIG_SPARK_ND)).withColumnRenamed("emb_d", "e_emb")
    band = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band")
    key = F.expr(f"substr(sig, band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND})")
    tb = t.select("train_id", "t_emb", "t_norm", "sig", band).withColumn(
        "band_key", key
    )
    eb = e.select("eval_id", "e_emb", "e_norm", "sig", band).withColumn(
        "band_key", key
    )
    # Dedup-THEN-score, deliberately NOT the _minhash_pairs r12 move
    # (score-before-dedup): the cosine is a 64-double dot (an interpreted
    # fold when measured in r12), and a contaminated train doc collides
    # with its eval twin in several bands, so scoring per band-copy
    # multiplies the dominant compute — measured interleaved old/new at the 10x
    # fixture: 5.35/6.96 s dedup-first vs 7.79 s score-first.  The
    # integer-scored SimHash/MinHash pair queries keep score-first.
    cand = tb.join(F.broadcast(eb), ["band", "band_key"]).dropDuplicates(
        ["train_id", "eval_id"]
    )
    dot = F.expr(dot_spark("t_emb", "e_emb"))
    scored = cand.select(
        "train_id",
        "eval_id",
        fround(dot / (F.col("t_norm") * F.col("e_norm")), 4).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= DECON_COS)
    return (
        scored.groupBy("train_id")
        .agg(
            F.max(
                F.struct(F.col("cos_sim"), (-F.col("eval_id")).alias("nid"))
            ).alias("m")
        )
        .select(
            "train_id",
            (-F.col("m.nid")).alias("matched_eval_id"),
            F.col("m.cos_sim").alias("cos_sim"),
        )
    )


# -- int8 scalar quantization ------------------------------------------------
#
# Shared expression builders so the Spark query and the DuckDB oracle apply
# IDENTICAL double arithmetic in IDENTICAL order (same IEEE ops on the same
# bits -> bitwise-equal codes; no tolerance needed).  `x`/`mins_i`/`maxs_i`
# are engine-specific sub-expressions for the element and its per-dimension
# corpus min/max.


def _qcode(x: str, mins_i: str, maxs_i: str) -> str:
    """Asymmetric uint8 code: round((x-dmin)/(dmax-dmin)*255) with the same
    deterministic upward bias as fround, so both engines land on the same
    side of every .5 boundary (the operand is always >= 0)."""
    return (
        f"CASE WHEN {maxs_i} = {mins_i} THEN 0 "
        f"ELSE CAST(floor(({x} - {mins_i}) / ({maxs_i} - {mins_i}) "
        f"* 255.0 * (1 + 1e-12) + 0.5) AS BIGINT) END"
    )


def _qerr(x: str, mins_i: str, maxs_i: str) -> str:
    code = _qcode(x, mins_i, maxs_i)
    dq = f"({mins_i} + CAST({code} AS DOUBLE) / 255.0 * ({maxs_i} - {mins_i}))"
    return f"(({x} - {dq}) * ({x} - {dq}))"


_QX_SPARK = "CAST(x AS DOUBLE)"
_QMIN_SPARK = "element_at(mins, i + 1)"
_QMAX_SPARK = "element_at(maxs, i + 1)"
_QX_DUCK = "e.embedding[i]::DOUBLE"
_QMIN_DUCK = "s.mins[i]"
_QMAX_DUCK = "s.maxs[i]"


@register(
    "q_embed_quantize",
    oracle=f"""
    WITH dims AS (
        SELECT i,
               min(embedding[i]::DOUBLE) AS dmin,
               max(embedding[i]::DOUBLE) AS dmax
        FROM embeddings, generate_series(1, {DIM}) AS t(i)
        GROUP BY i
    ),
    srow AS (
        SELECT list(dmin ORDER BY i) AS mins, list(dmax ORDER BY i) AS maxs
        FROM dims
    )
    SELECT e.vec_id,
           CAST(list_sum(list_transform(generate_series(1, {DIM}),
                i -> {_qcode(_QX_DUCK, _QMIN_DUCK, _QMAX_DUCK)})) AS BIGINT)
               AS qsum,
           CAST(list_min(list_transform(generate_series(1, {DIM}),
                i -> {_qcode(_QX_DUCK, _QMIN_DUCK, _QMAX_DUCK)})) AS BIGINT)
               AS qmin,
           CAST(list_max(list_transform(generate_series(1, {DIM}),
                i -> {_qcode(_QX_DUCK, _QMIN_DUCK, _QMAX_DUCK)})) AS BIGINT)
               AS qmax,
           {fround_sql(
               "list_sum(list_transform(generate_series(1, " + str(DIM) + "), "
               "i -> " + _qerr(_QX_DUCK, _QMIN_DUCK, _QMAX_DUCK) + ")) / "
               + str(DIM) + ".0",
               8,
           )} AS mse
    FROM embeddings e, srow s
    ORDER BY e.vec_id
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus (the standard
    memory/bandwidth reduction before ANN serving: 4 bytes/dim -> 1).
    Two-pass: (1) per-dimension corpus min/max, (2) per-vector uint8
    codes + reconstruction MSE against the dequantized vector.

    Scale design: the stats pass posexplodes to (dim, value) pairs but
    partial aggregation collapses every partition to DIM rows before the
    shuffle, so the exchange moves #partitions x 64 rows regardless of
    corpus size; the 64-entry min/max arrays then reach every executor as
    a single-row broadcast (one BroadcastNestedLoopJoin row — the
    degenerate-but-correct shape for scalar broadcast), and the code/MSE
    pass is a shuffle-free codegen projection over the corpus scan.  At
    100 TB the quantization pass is pure scan bandwidth.

    The code arithmetic is built from the same expression strings as the
    DuckDB oracle, so codes are bitwise-identical across engines and the
    hash check is exact (no tolerance)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double_spark("embedding")).alias("emb")
    )
    stats = (
        emb.select(F.posexplode("emb").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("dmin"), F.max("val").alias("dmax"))
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, dmin))), s -> s.dmin)"
            ).alias("mins"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos, dmax))), s -> s.dmax)"
            ).alias("maxs"),
        )
    )
    codes = f"transform(emb, (x, i) -> {_qcode(_QX_SPARK, _QMIN_SPARK, _QMAX_SPARK)})"
    errs = f"transform(emb, (x, i) -> {_qerr(_QX_SPARK, _QMIN_SPARK, _QMAX_SPARK)})"
    return (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.expr(
                f"CAST(aggregate({codes}, 0L, (acc, c) -> acc + c) AS BIGINT)"
            ).alias("qsum"),
            F.expr(f"CAST(array_min({codes}) AS BIGINT)").alias("qmin"),
            F.expr(f"CAST(array_max({codes}) AS BIGINT)").alias("qmax"),
            fround(
                F.expr(
                    f"aggregate({errs}, CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
                )
                / float(DIM),
                8,
            ).alias("mse"),
        )
        .orderBy("vec_id")
    )


@register(
    "q_hard_negatives",
    oracle=f"""
    WITH q AS ({_QUERIES_DUCK}),
    c AS ({_CORPUS_DUCK}),
    scored AS (
        SELECT q.query_id, q.label AS q_label,
               c.neighbor_id, c.label AS c_label,
               {dot_duck("q.q_emb", "c.c_emb")} / (q.q_norm * c.c_norm) AS cos_sim
        FROM q, c
        WHERE c.neighbor_id <> q.query_id
    ),
    pos AS (
        SELECT query_id, neighbor_id, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rn
            FROM scored WHERE c_label = q_label
        ) WHERE rn = 1
    ),
    neg AS (
        SELECT query_id, neighbor_id, cos_sim FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rn
            FROM scored WHERE c_label <> q_label
        ) WHERE rn = 1
    )
    SELECT p.query_id,
           p.neighbor_id AS pos_id,
           {fround_sql("p.cos_sim")} AS pos_sim,
           n.neighbor_id AS neg_id,
           {fround_sql("n.cos_sim")} AS neg_sim
    FROM pos p JOIN neg n USING (query_id)
    ORDER BY p.query_id
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: for each query
    vector, the most similar SAME-label corpus vector (the positive) and
    the most similar DIFFERENT-label vector (the hard negative — the
    examples that actually move a contrastive loss, vs easy random
    negatives).

    Scale: identical shape to q_embed_knn — the query batch broadcasts,
    the corpus scans without shuffling, and each branch's top-1 is a
    rank-limited window (WindowGroupLimit Partial: every partition ships
    at most 1 candidate per query per branch).  The corpus is scanned
    once per branch; at 100 TB either accept 2 scan passes (they
    pipeline) or cache the scored relation — the plan never materializes
    the |corpus| x |queries| cross product beyond the streamed broadcast
    probe.  Dot products are bit-identical across engines (same element
    fold order), so ranking needs no quantization."""
    q = (
        _query_side(spark, sf_dir)
        .withColumnRenamed("label", "q_label")
    )
    c = (
        _corpus_side(spark, sf_dir)
        .withColumnRenamed("label", "c_label")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "c_label",
            _qc_cos().alias("cos_sim"),
        )
    )
    pos = _topk_over_candidates(
        scored.filter(F.col("c_label") == F.col("q_label")), 1
    ).select(
        "query_id",
        F.col("neighbor_id").alias("pos_id"),
        F.col("cos_sim").alias("pos_sim"),
    )
    neg = _topk_over_candidates(
        scored.filter(F.col("c_label") != F.col("q_label")), 1
    ).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        F.col("cos_sim").alias("neg_sim"),
    )
    return (
        pos.join(neg, "query_id")
        .select("query_id", "pos_id", "pos_sim", "neg_id", "neg_sim")
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# kNN classification over the labeled embedding corpus
# ---------------------------------------------------------------------------

KNN_CLS_K = 5  # neighbors per test vector
# Evaluation batches are bounded by design: the 10% hash split is capped at
# vec_id < 5000 so the broadcast test side stays fixed-size as the corpus
# grows (inactive at every driver fixture, whose ids stop below 5000; at
# the derived 10x fixture it pins the eval batch to the base replica,
# keeping the scorer linear in the corpus instead of quadratic).
KNN_CLS_MAX_ID = 5000

# One broadcast test-matrix per (applicationId, sf_dir): q_knn_classify is
# invoked repeatedly within a session (plan pin + parity + partition-
# invariance tests) and re-broadcasting the eval batch each call leaks
# broadcast blocks.  Entries for dead applications are inert tuples of a
# few MB at most (the eval batch is bounded by KNN_CLS_MAX_ID).
_KNN_CLS_BC_CACHE: dict[tuple[str, str], object] = {}

_CLS_TEST_DUCK = f"""
    SELECT vec_id AS query_id,
           {as_double_duck("embedding")} AS q_emb,
           {norm_duck("embedding", cast=True)} AS q_norm, label
    FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < {KNN_CLS_MAX_ID}
"""
_CLS_TRAIN_DUCK = f"""
    SELECT vec_id AS neighbor_id,
           {as_double_duck("embedding")} AS c_emb,
           {norm_duck("embedding", cast=True)} AS c_norm, label
    FROM embeddings WHERE NOT (vec_id % 10 = 0 AND vec_id < {KNN_CLS_MAX_ID})
"""


@register(
    "q_knn_classify",
    oracle=f"""
    WITH q AS ({_CLS_TEST_DUCK}),
    c AS ({_CLS_TRAIN_DUCK}),
    scored AS (
        SELECT q.query_id, q.label AS true_label,
               c.label AS neighbor_label,
               {fround_sql(
                   f"{dot_duck('q.q_emb', 'c.c_emb')} / (q.q_norm * c.c_norm)", 9
               )} AS cos_sim,
               c.neighbor_id
        FROM q, c
    ),
    ranked AS (
        SELECT query_id, true_label, neighbor_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    ),
    votes AS (
        SELECT query_id, true_label, neighbor_label,
               CAST(count(*) AS BIGINT) AS n_votes
        FROM ranked WHERE rank <= {KNN_CLS_K}
        GROUP BY query_id, true_label, neighbor_label
    ),
    winner AS (
        SELECT query_id, true_label, neighbor_label AS pred_label, n_votes,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, neighbor_label) AS r
        FROM votes
    )
    SELECT query_id, true_label, pred_label, n_votes,
           pred_label = true_label AS correct
    FROM winner WHERE r = 1
    ORDER BY query_id
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification over the labeled embedding corpus: a
    deterministic 10% test split (vec_id % 10 = 0) is scored against the
    other 90% by exact cosine, each test vector takes the majority label
    of its {KNN_CLS_K} nearest train neighbors (ties broken toward the
    smaller label id), and the per-query verdict records whether the
    vote recovers the true label — the evaluation harness every
    embedding-quality pipeline runs after training.

    Scale: the scorer is the one dense-matmul workload in the suite, and
    it runs as an Arrow-batched BLAS stage (mapInPandas): the CAPPED test
    matrix (<= {KNN_CLS_MAX_ID} // 10 rows x {DIM} doubles, a bounded
    eval batch by construction — the r4 quadratic fix) broadcasts to the
    workers, each train partition computes batch @ Q.T in vectorized C
    and emits only its partition-local top-{KNN_CLS_K} per query, so the
    corpus scans once, never shuffles, and #partitions x k x |test|
    candidate rows reach the global ranking — the same map-side-top-k
    posture as the WindowGroupLimit plan it replaces, ~60x faster on the
    scoring stage (31.2 s -> measured sub-second at the 10x fixture).
    cos_sim is quantized with fround(·, 9) on BOTH sides (the suite's
    derived-float convention) before any ranking, so the rank-k boundary
    comparison is engine-exact: BLAS-vs-sequential summation regroupings
    (~1e-16 relative) land on the same quantum, and genuine ties break by
    neighbor_id identically in Spark and the oracle; parity is pinned at
    sf0.001/0.01/0.1.  A production run swaps the exact scorer for the
    LSH/IVF candidate generators beside it (same interface), which
    changes recall, not the plan."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    is_test = (F.col("vec_id") % 10 == 0) & (
        F.col("vec_id") < KNN_CLS_MAX_ID
    )
    out_schema = (
        "query_id bigint, true_label int, pred_label int, "
        "n_votes bigint, correct boolean"
    )
    # One broadcast of the bounded test matrix per (application, sf_dir):
    # repeated invocations in one session (plan tests + parity tests)
    # must not accumulate broadcast blocks on the driver/executors.
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _KNN_CLS_BC_CACHE.get(key)
    if cached is None:
        # Bounded eval-batch collect: <= KNN_CLS_MAX_ID/10 rows regardless
        # of corpus size (the same boundedness that makes the broadcast
        # legal).
        tp = (
            emb.filter(is_test)
            .select("vec_id", "embedding", "label")
            .orderBy("vec_id")
            .toPandas()
        )
        if tp.empty:
            return spark.createDataFrame([], out_schema)
        q_mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in tp["embedding"]]
        )
        q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
        q_ids = tp["vec_id"].to_numpy(np.int64)
        q_labels = tp["label"].to_numpy(np.int32)
        cached = spark.sparkContext.broadcast((q_mat, q_norm, q_ids, q_labels))
        _KNN_CLS_BC_CACHE[key] = cached
    bc = cached
    if bc.value[0].shape[0] == 0:
        return spark.createDataFrame([], out_schema)
    k = KNN_CLS_K

    def score_partition(batches):
        qm, qn, qi, ql = bc.value
        frames = []
        for pdf in batches:
            if pdf.empty:
                continue
            c_mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
            sims = (c_mat @ qm.T) / np.outer(c_norm, qn)
            # fround(·, 9): same quantization as the oracle's ranking key,
            # applied BEFORE any selection so batch-local cuts see the
            # exact values the global rank will order by.
            sims = np.floor(sims * 1e9 * (1.0 + 1e-12) + 0.5) / 1e9
            n_id = pdf["vec_id"].to_numpy(np.int64)
            n_lab = pdf["label"].to_numpy(np.int32)
            kk = min(k, sims.shape[0])
            # Tie-AWARE per-batch partial top-k per query column: keep
            # every row at or above the kk-th value (boundary ties
            # included — a tied candidate with a smaller neighbor_id may
            # be the one the global order keeps); the partition-local
            # reduce below truncates under the full (cos_sim desc,
            # neighbor_id asc) order, so no batch-boundary dependence.
            kth = -np.partition(-sims, kk - 1, axis=0)[kk - 1]
            rows, cols = np.nonzero(sims >= kth)
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": qi[cols],
                        "true_label": ql[cols],
                        "neighbor_label": n_lab[rows],
                        "cos_sim": sims[rows, cols],
                        "neighbor_id": n_id[rows],
                    }
                )
            )
        if frames:
            allf = pd.concat(frames, ignore_index=True)
            # partition-local reduce: top-k per query, ties toward the
            # smaller neighbor_id (the global ranking's exact order)
            allf = allf.sort_values(
                ["query_id", "cos_sim", "neighbor_id"],
                ascending=[True, False, True],
            )
            yield allf.groupby("query_id", sort=False).head(k)

    scored = (
        emb.filter(~is_test)
        .select("vec_id", "embedding", "label")
        .mapInPandas(
            score_partition,
            "query_id bigint, true_label int, neighbor_label int, "
            "cos_sim double, neighbor_id bigint",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= KNN_CLS_K
    )
    votes = topk.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count("*").cast("long").alias("n_votes")
    )
    ww = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), "neighbor_label"
    )
    return (
        votes.withColumn("r", F.row_number().over(ww))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("pred_label"),
            "n_votes",
            (F.col("neighbor_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# ANN quality harness: recall@K of the LSH path against the exact path
# ---------------------------------------------------------------------------

from ..registry import ORACLES as _ORACLES  # noqa: E402  (registered above)


@register(
    "q_ann_recall",
    oracle=f"""
    WITH exact AS (
        SELECT query_id, neighbor_id FROM ({_ORACLES["q_embed_knn"]})
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM ({_ORACLES["q_embed_knn_lsh"]})
    ),
    j AS (
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(c.neighbor_id) AS BIGINT) AS n_hits
        FROM exact e
        LEFT JOIN cand c
          ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    )
    SELECT query_id, n_exact, n_hits,
           {fround_sql("n_hits / CAST(n_exact AS DOUBLE)", 6)} AS recall
    FROM j
    ORDER BY query_id
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} of the SRP-LSH approximate KNN against the exact
    brute-force KNN, per query — 'measure, don't guess' as a first-class
    operator: the two registered queries are COMPOSED (their DataFrames
    joined, their oracles nested as subqueries), so this harness can
    never drift from the operators it certifies.  This is the number a
    100 TB deployment watches when tuning bands/bits: recall trades
    directly against the candidate-join fan-out.

    Scale: both sides inherit their own posture (broadcast query batch;
    banded candidate join); the comparison itself is a |queries| x K
    left join and a partial-aggregating count — invisible next to the
    searches it measures."""
    exact = q_embed_knn(spark, sf_dir).select("query_id", "neighbor_id")
    cand = (
        q_embed_knn_lsh(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            fround(
                F.col("n_hits") / F.col("n_exact").cast("double"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) of the embedding corpus
# ---------------------------------------------------------------------------

PQ_BLOCKS = 4
PQ_SUB = DIM // PQ_BLOCKS  # 16 dims per sub-block
PQ_CODES = 16  # codebook entries per block (4-bit codes)

# Codebook: the sub-blocks of the first PQ_CODES vectors, a deterministic
# "seeding" both engines derive identically from the data (the same idiom
# as q_embed_centroids' seed selection); production would Lloyd-iterate
# each block's codebook, which changes the centroids, not the plan.


def _pq_dist_duck(b: int) -> str:
    return sqdist_duck("v.emb", "s.emb", PQ_SUB, b * PQ_SUB)


def _pq_dist_spark(b: int) -> str:
    return sqdist_spark("emb", "s_emb", PQ_SUB, b * PQ_SUB)


@register(
    "q_pq_codes",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    s AS (
        SELECT vec_id AS seed_id,
               {as_double_duck("embedding")} AS emb
        FROM embeddings WHERE vec_id < {PQ_CODES}
    ),
    scored AS (
        SELECT v.vec_id, s.seed_id,
               {", ".join(f"{_pq_dist_duck(b)} AS d{b}" for b in range(PQ_BLOCKS))}
        FROM v, s
    ),
    best AS (
        SELECT vec_id,
               {", ".join(
                   f"min(struct_pack(d := d{b}, s := seed_id)) AS m{b}"
                   for b in range(PQ_BLOCKS)
               )}
        FROM scored GROUP BY vec_id
    )
    SELECT vec_id,
           {", ".join(f"CAST(m{b}.s AS INT) AS code{b}" for b in range(PQ_BLOCKS))},
           {fround_sql(
               "(" + " + ".join(f"m{b}.d" for b in range(PQ_BLOCKS)) + f") / {DIM}.0",
               6,
           )} AS mse
    FROM best
    ORDER BY vec_id
    """,
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011): each embedding splits
    into {PQ_BLOCKS} sub-blocks of {PQ_SUB} dims, each block is encoded
    as the index of its nearest codebook entry ({PQ_CODES} entries per
    block = 4-bit codes, so a 64-float vector compresses to 2 bytes),
    and the per-vector reconstruction MSE falls out of the same pass —
    the compression stage below q_embed_quantize's int8 (16x vs 4x),
    trading accuracy the recorded MSE makes visible.

    Scale: the codebook is {PQ_CODES} rows — broadcast — so encoding is
    a broadcast nested-loop of corpus x codebook with all {PQ_BLOCKS}
    block distances computed per pair inside codegen, then ONE
    partial-aggregating min-over-struct per block per vector (the
    argmin idiom of q_first_touch).  The corpus never shuffles; the
    aggregate moves one {PQ_BLOCKS}-struct row per vector per
    partition.  Distances fold in identical element order in both
    engines, so the argmin needs no rounding guard."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.expr(as_double_spark("embedding")).alias("emb")
    )
    s = emb.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("seed_id"),
        F.expr(as_double_spark("embedding")).alias("s_emb"),
    )
    scored = v.crossJoin(F.broadcast(s)).select(
        "vec_id",
        "seed_id",
        *[
            F.expr(_pq_dist_spark(b)).alias(f"d{b}")
            for b in range(PQ_BLOCKS)
        ],
    )
    best = scored.groupBy("vec_id").agg(
        *[
            F.min(
                F.struct(F.col(f"d{b}").alias("d"), F.col("seed_id").alias("s"))
            ).alias(f"m{b}")
            for b in range(PQ_BLOCKS)
        ]
    )
    mse = fround(
        sum(F.col(f"m{b}.d") for b in range(PQ_BLOCKS)) / float(DIM), 6
    )
    return best.select(
        "vec_id",
        *[
            F.col(f"m{b}.s").cast("int").alias(f"code{b}")
            for b in range(PQ_BLOCKS)
        ],
        mse.alias("mse"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Embedding-space outliers: distance-to-centroid z-scores per label
# ---------------------------------------------------------------------------

# |z| threshold on the (quantized) per-label cosine-to-centroid score.
OUTLIER_Z = 2.0


@register(
    "q_embed_outliers",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, label,
               {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    cent_dim AS (
        SELECT label, i, avg(emb[i]) AS m
        FROM c CROSS JOIN generate_series(1, {DIM}) AS g(i)
        GROUP BY label, i
    ),
    cent AS (
        SELECT label, list(m ORDER BY i) AS cemb
        FROM cent_dim GROUP BY label
    ),
    scored AS (
        SELECT vec_id, c.label,
               {dot_duck("emb", "cemb")}
               / ({norm_duck("emb")} * {norm_duck("cemb")}) AS cos_sim
        FROM c JOIN cent USING (label)
    ),
    st AS (
        SELECT label, avg(cos_sim) AS mu, stddev_samp(cos_sim) AS sd
        FROM scored GROUP BY label
    )
    SELECT vec_id, scored.label,
           {fround_sql("cos_sim", 6)} AS cos_to_centroid,
           {fround_sql("(cos_sim - mu) / sd", 6)} AS z
    FROM scored JOIN st ON scored.label = st.label
    WHERE abs({fround_sql("(cos_sim - mu) / sd", 6)}) > {OUTLIER_Z}
    ORDER BY scored.label, vec_id
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per-label mean vector (the
    cluster centroid), each vector's cosine to its OWN label's centroid,
    and a per-label z-score over those cosines; vectors with
    |z| > {OUTLIER_Z} are mislabeled/noise candidates — the curation
    signal used to prune contrastive-training batches (complement of
    q_semantic_dedup, which prunes near-DUPLICATES; this prunes
    far-from-cluster noise).

    Scale: the centroid is a per-(label, dim) partial aggregate
    (labels x {DIM} cells — metadata), reassembled into one array per
    label and BROADCAST back onto the corpus, so the corpus never
    shuffles; scoring is a pure array expression; the z statistics
    partial-aggregate onto the labels domain and broadcast back again.
    Two broadcast joins, zero data-proportional shuffles.  The outlier
    predicate compares the 6dp-QUANTIZED z, so dimension-sum ULP
    differences between engines cannot flip membership.

    The scored corpus is one eager localCheckpoint: it feeds the z
    statistics and the final join.  Composed lazily, each consumer
    re-scored the corpus, and the final stage inlined the 64-term cosine
    into its filter and both outputs — a 65,479-byte method that Janino
    rejects with ANSI on ("Code grows beyond 64 KB"), so that stage fell
    back to non-whole-stage execution (tests/test_composed.py)."""
    c = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(as_double_spark("embedding")).alias("emb"),
    )
    cent = (
        c.select("label", F.posexplode("emb").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg("v").alias("m"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, m))), x -> x.m)"
            ).alias("cemb")
        )
    )
    cos = F.expr(dot_spark("emb", "cemb")) / (
        F.expr(norm_spark("emb")) * F.expr(norm_spark("cemb"))
    )
    scored = (
        c.join(F.broadcast(cent), "label")
        .select("vec_id", "label", cos.alias("cos_sim"))
        .localCheckpoint(eager=True)
    )
    st = scored.groupBy("label").agg(
        F.avg("cos_sim").alias("mu"),
        F.stddev_samp("cos_sim").alias("sd"),
    )
    z = fround((F.col("cos_sim") - F.col("mu")) / F.col("sd"), 6)
    return (
        scored.join(F.broadcast(st), "label")
        .select(
            "vec_id",
            "label",
            fround(F.col("cos_sim"), 6).alias("cos_to_centroid"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > OUTLIER_Z)
        .orderBy("label", "vec_id")
    )


# ---------------------------------------------------------------------------
# Truncated-embedding (Matryoshka-style) retrieval evaluation
# ---------------------------------------------------------------------------

HALF_DIM = DIM // 2


def _top1_agreement(
    scored: DataFrame,
    approx_order,
    approx_name: str,
    f_select=(),
    b_select=(),
) -> DataFrame:
    """Shared skeleton of the retrieval-compression scorecards: rank the
    scored candidates by exact cosine and by the approximate metric, then
    line up each query's exact top-1 against the approximate top-1 (plus
    the FULL rank the approximate winner really holds).  Used by the
    truncation and binary-quantization evals so a tie-handling or join
    fix in one can never miss the other.  Returns the joined frame with
    full_top1 / {approx_name}_top1 / agree / {approx_name}_top1_full_rank
    plus whatever extra columns the caller selected from the exact-top-1
    (f_select) and approx-top-1 (b_select) rows."""
    top1_col = f"{approx_name}_top1"
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), "neighbor_id"
    )
    wa = Window.partitionBy("query_id").orderBy(*approx_order)
    ranked = scored.withColumn("rf", F.row_number().over(wf)).withColumn(
        "ra", F.row_number().over(wa)
    )
    f = ranked.filter(F.col("rf") == 1).select(
        "query_id", F.col("neighbor_id").alias("full_top1"), *f_select
    )
    b = ranked.filter(F.col("ra") == 1).select(
        "query_id", F.col("neighbor_id").alias(top1_col), *b_select
    )
    bf = ranked.select(
        "query_id",
        F.col("neighbor_id").alias(top1_col),
        F.col("rf").cast("long").alias(f"{approx_name}_top1_full_rank"),
    )
    return (
        f.join(b, "query_id")
        .join(bf, ["query_id", top1_col])
        .withColumn("agree", F.col("full_top1") == F.col(top1_col))
    )


@register(
    "q_embed_truncation_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id,
               {as_double_duck("embedding")} AS q_emb,
               {norm_duck("embedding", cast=True)} AS q_norm,
               {norm_duck("embedding", HALF_DIM, cast=True)} AS q_norm_h
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS neighbor_id,
               {as_double_duck("embedding")} AS c_emb,
               {norm_duck("embedding", cast=True)} AS c_norm,
               {norm_duck("embedding", HALF_DIM, cast=True)} AS c_norm_h
        FROM embeddings
    ),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               {dot_duck("q.q_emb", "c.c_emb")} / (q.q_norm * c.c_norm) AS cos_full,
               {dot_duck("q.q_emb", "c.c_emb", HALF_DIM)} / (q.q_norm_h * c.c_norm_h) AS cos_half
        FROM q, c WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_full DESC, neighbor_id) AS rf,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_half DESC, neighbor_id) AS rh
        FROM scored
    )
    SELECT f.query_id,
           f.neighbor_id AS full_top1,
           h.neighbor_id AS half_top1,
           f.neighbor_id = h.neighbor_id AS agree,
           CAST(hf.rf AS BIGINT) AS half_top1_full_rank,
           {fround_sql("f.cos_full - f.cos_half")} AS delta_cos_top1
    FROM ranked f
    JOIN ranked h ON h.query_id = f.query_id AND h.rh = 1
    JOIN ranked hf ON hf.query_id = f.query_id
                  AND hf.neighbor_id = h.neighbor_id
    WHERE f.rf = 1
    ORDER BY f.query_id
    """,
)
def q_embed_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: re-run exact top-1 cosine
    retrieval with only the first {HALF_DIM} of {DIM} dimensions and
    report, per query, whether the half-dim top-1 agrees with the
    full-dim top-1, what FULL rank the half-dim winner really holds, and
    how much the true top-1's cosine shifts under truncation — the table
    read before shipping truncated embeddings to cut an ANN index's
    memory in half.

    Scale: one broadcast-query scan of the corpus scores BOTH metrics in
    a single pass (no second corpus read); the two rank windows and the
    three self-joins all run over the scored candidate rows of the tiny
    query batch.  At index scale the corpus side would be the LSH/IVF
    candidate set, same plan."""
    q = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(as_double_spark("embedding")).alias("q_emb"),
            F.expr(norm_spark("embedding", cast=True)).alias("q_norm"),
            F.expr(norm_spark("embedding", HALF_DIM, cast=True)).alias("q_norm_h"),
        )
    )
    c = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(as_double_spark("embedding")).alias("c_emb"),
        F.expr(norm_spark("embedding", cast=True)).alias("c_norm"),
        F.expr(norm_spark("embedding", HALF_DIM, cast=True)).alias("c_norm_h"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _qc_cos().alias("cos_full"),
            (
                F.expr(dot_spark("q_emb", "c_emb", HALF_DIM))
                / (F.col("q_norm_h") * F.col("c_norm_h"))
            ).alias("cos_half"),
        )
    )
    return (
        _top1_agreement(
            scored,
            (F.desc("cos_half"), "neighbor_id"),
            "half",
            f_select=[
                fround(F.col("cos_full") - F.col("cos_half"), 4).alias(
                    "delta_cos_top1"
                )
            ],
        )
        .select(
            "query_id",
            "full_top1",
            "half_top1",
            "agree",
            "half_top1_full_rank",
            "delta_cos_top1",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization retrieval evaluation
# ---------------------------------------------------------------------------

_BQ_BANDS = 4
_BQ_BITS = DIM // _BQ_BANDS  # 16 sign bits per band integer


def _sign_band(col: str, k: int, idx) -> str:
    """Band k of the sign-bit signature as one integer; idx(i) renders the
    1-based element access for the engine ('embedding[i]' / element_at)."""
    return (
        "("
        + " + ".join(
            f"(CASE WHEN {idx(col, _BQ_BITS * k + j + 1)} > 0"
            f" THEN {1 << (_BQ_BITS - 1 - j)} ELSE 0 END)"
            for j in range(_BQ_BITS)
        )
        + ")"
    )


def _bq_bands_duck(col: str) -> str:
    return ", ".join(
        f"CAST({_sign_band(col, k, lambda c, i: f'{c}[{i}]')} AS BIGINT)"
        f" AS sb{k}"
        for k in range(_BQ_BANDS)
    )


_BQ_HAMMING_DUCK = " + ".join(
    f"bit_count(xor(q.qb{k}, c.cb{k}))" for k in range(_BQ_BANDS)
)


@register(
    "q_embed_binary_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id,
               {as_double_duck("embedding")} AS q_emb,
               {norm_duck("embedding", cast=True)} AS q_norm,
               {_bq_bands_duck("embedding").replace("sb", "qb")}
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS neighbor_id,
               {as_double_duck("embedding")} AS c_emb,
               {norm_duck("embedding", cast=True)} AS c_norm,
               {_bq_bands_duck("embedding").replace("sb", "cb")}
        FROM embeddings
    ),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               {dot_duck("q.q_emb", "c.c_emb")} / (q.q_norm * c.c_norm) AS cos_full,
               CAST({_BQ_HAMMING_DUCK} AS BIGINT) AS ham
        FROM q, c WHERE c.neighbor_id <> q.query_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_full DESC, neighbor_id) AS rf,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ham ASC, neighbor_id) AS rb
        FROM scored
    )
    SELECT f.query_id,
           f.neighbor_id AS full_top1,
           b.neighbor_id AS binary_top1,
           f.neighbor_id = b.neighbor_id AS agree,
           CAST(bf.rf AS BIGINT) AS binary_top1_full_rank,
           b.ham AS binary_top1_hamming,
           CAST(f.ham AS BIGINT) AS full_top1_hamming
    FROM ranked f
    JOIN ranked b ON b.query_id = f.query_id AND b.rb = 1
    JOIN ranked bf ON bf.query_id = f.query_id
                  AND bf.neighbor_id = b.neighbor_id
    WHERE f.rf = 1
    ORDER BY f.query_id
    """,
)
def q_embed_binary_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval evaluation: collapse each {DIM}-dim
    embedding to its sign bits (a 64x memory cut, the third member of the
    compression trilogy after int8 q_embed_quantize and half-dim
    q_embed_truncation_eval) and re-run top-1 retrieval by Hamming
    distance; report per query whether the sign-bit winner matches the
    exact-cosine winner, the full rank it actually holds, and both
    Hamming distances — sign-bit Hamming approximates angular distance
    (the SRP identity the LSH path already exploits), and this harness
    measures how much of that survives quantization on THIS corpus.

    Scale: sign bands fold into 4 integers per vector at scan time; the
    broadcast-query scan scores cosine and Hamming in one pass, and the
    Hamming compare is 4 xor+popcounts in codegen — the cheap first pass
    a binary-index serving tier would run before exact re-scoring."""
    sign_bands_q = [
        F.expr(
            f"cast({_sign_band('q_emb', k, lambda c, i: f'element_at({c}, {i})')}"
            " as bigint)"
        ).alias(f"qb{k}")
        for k in range(_BQ_BANDS)
    ]
    sign_bands_c = [
        F.expr(
            f"cast({_sign_band('c_emb', k, lambda c, i: f'element_at({c}, {i})')}"
            " as bigint)"
        ).alias(f"cb{k}")
        for k in range(_BQ_BANDS)
    ]
    q = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(as_double_spark("embedding")).alias("q_emb"),
            F.expr(norm_spark("embedding", cast=True)).alias("q_norm"),
        )
        .select("query_id", "q_emb", "q_norm", *sign_bands_q)
    )
    c = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.expr(as_double_spark("embedding")).alias("c_emb"),
            F.expr(norm_spark("embedding", cast=True)).alias("c_norm"),
        )
        .select("neighbor_id", "c_emb", "c_norm", *sign_bands_c)
    )
    ham = sum(
        F.expr(f"bit_count(qb{k} ^ cb{k})") for k in range(_BQ_BANDS)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _qc_cos().alias("cos_full"),
            ham.cast("long").alias("ham"),
        )
    )
    return (
        _top1_agreement(
            scored,
            (F.col("ham"), "neighbor_id"),
            "binary",
            f_select=[F.col("ham").alias("full_top1_hamming")],
            b_select=[F.col("ham").alias("binary_top1_hamming")],
        )
        .select(
            "query_id",
            "full_top1",
            "binary_top1",
            "agree",
            "binary_top1_full_rank",
            "binary_top1_hamming",
            "full_top1_hamming",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Cluster purity: the k-means assignment judged against stored labels
# ---------------------------------------------------------------------------


@register(
    "q_cluster_purity",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, label, {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    s AS (
        SELECT vec_id AS cluster_id,
               {as_double_duck("embedding")} AS semb
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    assign AS (
        SELECT c.vec_id, c.label,
               min(struct_pack(d := {sqdist_duck("c.emb", "s.semb")}, c := s.cluster_id)).c
                   AS cluster_id
        FROM c, s
        GROUP BY c.vec_id, c.label
    ),
    cl AS (
        SELECT cluster_id, label, CAST(count(*) AS BIGINT) AS cnt
        FROM assign GROUP BY cluster_id, label
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY cnt DESC, label) AS rnk,
               CAST(sum(cnt) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS n_members
        FROM cl
    ),
    tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
               CAST(sum(maj) AS BIGINT) AS n_majority_total
        FROM (
            SELECT cluster_id, sum(cnt) AS cnt, max(cnt) AS maj
            FROM cl GROUP BY cluster_id
        )
    )
    SELECT cluster_id, n_members,
           label AS majority_label,
           cnt AS n_majority,
           {fround_sql("cnt / CAST(n_members AS DOUBLE)")} AS purity,
           {fround_sql("n_majority_total / CAST(n_total AS DOUBLE)")}
               AS corpus_purity
    FROM ranked, tot
    WHERE rnk = 1
    ORDER BY cluster_id
    """,
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation: assign every embedding to its nearest
    seed centroid (the EXACT assignment step of q_embed_centroids, same
    bit-deterministic struct-min) and judge the clustering against the
    stored labels — per-cluster majority label and purity, plus the
    corpus-level purity (weighted majority mass).  The clustering-eval
    twin of q_knn_classify's label-recovery score and q_ann_recall's
    retrieval score: every approximate structure in the tier ships with
    its own scorecard.

    Scale: identical assignment plan to the Lloyd step (seeds broadcast,
    min-over-struct partial agg, corpus never shuffles to be scored);
    the label histogram is a (cluster, label)-keyed partial agg and the
    ranking windows run over that bounded histogram, never vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", "label", F.expr(as_double_spark("embedding")).alias("emb"))
    s = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cluster_id"),
        F.expr(as_double_spark("embedding")).alias("semb"),
    )
    dist = F.expr(sqdist_spark("emb", "semb"))
    assign = (
        c.crossJoin(F.broadcast(s))
        .select(
            "vec_id",
            "label",
            F.struct(dist.alias("d"), F.col("cluster_id").alias("c")).alias("dc"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("dc").alias("dc"))
        .select("vec_id", "label", F.col("dc.c").alias("cluster_id"))
    )
    cl = assign.groupBy("cluster_id", "label").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w_rank = Window.partitionBy("cluster_id").orderBy(F.desc("cnt"), "label")
    w_size = Window.partitionBy("cluster_id")
    ranked = cl.withColumn("rnk", F.row_number().over(w_rank)).withColumn(
        "n_members", F.sum("cnt").over(w_size).cast("long")
    )
    per_cluster = cl.groupBy("cluster_id").agg(
        F.sum("cnt").alias("cnt"), F.max("cnt").alias("maj")
    )
    tot = per_cluster.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.sum("maj").cast("long").alias("n_majority_total"),
    )
    return (
        ranked.filter(F.col("rnk") == 1)
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_id",
            "n_members",
            F.col("label").alias("majority_label"),
            F.col("cnt").alias("n_majority"),
            fround(F.col("cnt") / F.col("n_members").cast("double"), 4).alias(
                "purity"
            ),
            fround(
                F.col("n_majority_total") / F.col("n_total").cast("double"), 4
            ).alias("corpus_purity"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Embedding anisotropy: exact mean pairwise cosine without any pairs
# ---------------------------------------------------------------------------


@register(
    "q_embed_anisotropy",
    oracle=f"""
    WITH c AS (
        SELECT vec_id,
               {as_double_duck("embedding")} AS emb,
               {norm_duck("embedding", cast=True)} AS nrm
        FROM embeddings
    ),
    dims AS (
        SELECT u.i AS dim, sum(c.emb[u.i] / c.nrm) AS s
        FROM c, (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY u.i
    ),
    agg AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n,
               (SELECT sum(s * s) FROM dims) AS sum_sq,
               (SELECT avg(nrm) FROM c) AS mean_norm,
               (SELECT stddev_samp(nrm) FROM c) AS std_norm
    )
    SELECT n,
           {fround_sql("(sum_sq - n) / (CAST(n AS DOUBLE) * (n - 1))", 6)}
               AS mean_pairwise_cos,
           {fround_sql("mean_norm")} AS mean_norm,
           {fround_sql("std_norm")} AS std_norm
    FROM agg
    """,
)
def q_embed_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy diagnostic (Ethayarajh 2019): the EXACT
    mean pairwise cosine over all N(N-1) vector pairs computed WITHOUT
    materializing a single pair, via the sum-vector identity
    ||sum of unit vectors||^2 = N + sum of off-diagonal cosines — a
    well-conditioned corpus sits near 0 (isotropic), a collapsed
    embedding space near 1; reported with the raw-norm distribution the
    normalization step should be checked against.

    Scale: normalize per row, partial-sum the {DIM} unit coordinates
    (one exchange of {DIM} doubles per map task), square-sum the
    {DIM}-row result — O(N x {DIM}) work and O({DIM}) shuffle for a
    statistic naively costing O(N^2 x {DIM}).  The exactness makes it
    the calibration oracle for any sampled anisotropy estimate."""
    c = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(as_double_spark("embedding")).alias("emb"),
        F.expr(norm_spark("embedding", cast=True)).alias("nrm"),
    )
    dims = (
        c.select(F.posexplode(F.expr("transform(emb, x -> x / nrm)")).alias("dim", "u"))
        .groupBy("dim")
        .agg(F.sum("u").alias("s"))
    )
    sum_sq = dims.agg(F.sum(F.col("s") * F.col("s")).alias("sum_sq"))
    stats = c.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("nrm").alias("mean_norm"),
        F.stddev_samp("nrm").alias("std_norm"),
    )
    return (
        stats.crossJoin(F.broadcast(sum_sq))
        .select(
            "n",
            fround(
                (F.col("sum_sq") - F.col("n"))
                / (F.col("n").cast("double") * (F.col("n") - 1)),
                6,
            ).alias("mean_pairwise_cos"),
            fround(F.col("mean_norm"), 4).alias("mean_norm"),
            fround(F.col("std_norm"), 4).alias("std_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental embedding-space dedup: delta vectors vs the standing SRP store
# ---------------------------------------------------------------------------

# Today's batch: vec_id % EMB_DELTA_MOD == 0 (mirrors text.INCR_DELTA_MOD).
EMB_DELTA_MOD = 4

# Planted near-twins chosen so every verdict branch fires on the fixture:
#   A: every 25th vector re-appears at vec_id+10001 (dim-1 perturbation) —
#      the +1 offset flips the delta parity, so an original in today's
#      batch meets an ARCHIVED twin ('dup_of_store').
#   B: every 40th vector re-appears at vec_id+20000 (dim-2 perturbation) —
#      offset divisible by 4, so original and twin share delta parity and
#      v % 40 == 0 batches produce pure within-batch pairs
#      ('dup_in_batch', e.g. v=40 when v % 25 != 0).
_INC_CORPUS_DUCK = f"""
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 10001 AS vec_id,
           list_transform(generate_series(1, {DIM}),
                          i -> CASE WHEN i = 1 THEN embedding[i] + 0.05::FLOAT
                                    ELSE embedding[i] END) AS embedding
    FROM embeddings WHERE vec_id % 25 = 0
    UNION ALL
    SELECT vec_id + 20000 AS vec_id,
           list_transform(generate_series(1, {DIM}),
                          i -> CASE WHEN i = 2 THEN embedding[i] + 0.05::FLOAT
                                    ELSE embedding[i] END) AS embedding
    FROM embeddings WHERE vec_id % 40 = 0
"""


def _inc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    _perturb = _perturb_sql

    a = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 10001).alias("vec_id"),
        F.expr(_perturb(1)).alias("embedding"),
    )
    b = emb.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.expr(_perturb(2)).alias("embedding"),
    )
    return emb.unionByName(a).unionByName(b)


@register(
    "q_embed_dedup_incremental",
    oracle=f"""
    WITH corpus AS ({_INC_CORPUS_DUCK}),
    c0 AS (
        SELECT vec_id,
               {as_double_duck("embedding")} AS emb_d,
               {norm_duck("embedding", cast=True)} AS nrm
        FROM corpus
    ),
    cs AS (
        SELECT vec_id, emb_d, nrm, {_SIG_DUCK_ND} AS sig FROM c0
    ),
    cb AS (
        SELECT vec_id, emb_d, nrm, b.band,
               substr(sig, b.band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND}) AS band_key
        FROM cs, (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS band) b
    ),
    cand AS (
        SELECT DISTINCT d.vec_id, o.vec_id AS other_id,
               d.emb_d AS emb_a, d.nrm AS norm_a,
               o.emb_d AS emb_b, o.nrm AS norm_b
        FROM cb d JOIN cb o
          ON d.band = o.band AND d.band_key = o.band_key
         AND d.vec_id <> o.vec_id
        WHERE d.vec_id % {EMB_DELTA_MOD} = 0
    ),
    scored AS (
        SELECT vec_id, other_id,
               {dot_duck("emb_a", "emb_b")} / (norm_a * norm_b) AS cos_sim
        FROM cand
    ),
    matches AS (
        SELECT * FROM scored WHERE cos_sim >= {NEAR_DUP_COS}
    ),
    verdicts AS (
        SELECT vec_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               max(CASE WHEN other_id % {EMB_DELTA_MOD} != 0 THEN 1 ELSE 0 END)
                   AS any_store,
               first(other_id ORDER BY {fround_sql("cos_sim", 6)} DESC, other_id)
                   AS best_match_id,
               max({fround_sql("cos_sim")}) AS best_cos
        FROM matches GROUP BY vec_id
    )
    SELECT c.vec_id, coalesce(v.n_matches, 0) AS n_matches,
           v.best_match_id, v.best_cos,
           CASE WHEN v.any_store = 1 THEN 'dup_of_store'
                WHEN v.n_matches > 0 THEN 'dup_in_batch'
                ELSE 'unique' END AS dup_kind
    FROM (SELECT vec_id FROM corpus WHERE vec_id % {EMB_DELTA_MOD} = 0) c
    LEFT JOIN verdicts v USING (vec_id)
    """,
)
def q_embed_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EMBEDDING-space dedup — the semantic cell of the
    incremental-dedup matrix (exact hashes: q_dedup_exact_incremental;
    MinHash shingles: q_dedup_incremental; near-dup groups:
    q_cc_incremental): only TODAY's vectors (vec_id % {EMB_DELTA_MOD} == 0)
    probe the standing SRP band store, and each resolves to
    'dup_of_store' (a cosine>={NEAR_DUP_COS} twin is already archived),
    'dup_in_batch' (its only twins arrived today), or 'unique', with the
    best-matching twin reported (ties broken by id).

    Scale: the store side is (band_key, vec_id, quantizable vector) —
    bucketed by band_key at write so the daily probe is a co-partitioned
    equi-join; only the delta explodes into band rows, never a store
    self-join.  The 12-bit band keys are fixed-width, so buckets grow with
    the store and random delta x store collisions grow as N^2 / 2^12 (41x
    on the 10x replica; SUPERLINEAR in tests/test_registry_pass.py).
    Exact cosine runs on candidates only; verdicts are per-delta partial
    aggregates."""
    c = _inc_corpus(spark, sf_dir).select(
        "vec_id",
        F.expr(as_double_spark("embedding")).alias("emb_d"),
        F.expr(norm_spark("embedding", cast=True)).alias("nrm"),
    )
    # The signature table fans into the delta probe leg, the store leg,
    # and the all-delta verdict spine; lazily composed, each leg re-ran
    # the corpus union + SRP signature dot products (the dominant cost).
    # One eager checkpoint of the 1-row-per-vector table bounds it at one
    # pass (r12, guide §5); the per-leg band explode stays lazy (cheap).
    sigged = c.withColumn("sig", F.expr(_SIG_SPARK_ND)).localCheckpoint(
        eager=True
    )
    band = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band")
    banded = sigged.select("vec_id", "emb_d", "nrm", "sig", band).withColumn(
        "band_key",
        F.expr(f"substr(sig, band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND})"),
    )
    delta = banded.filter(F.col("vec_id") % EMB_DELTA_MOD == 0).select(
        "vec_id",
        F.col("emb_d").alias("emb_a"),
        F.col("nrm").alias("norm_a"),
        "band",
        "band_key",
    )
    store = banded.select(
        F.col("vec_id").alias("other_id"),
        F.col("emb_d").alias("emb_b"),
        F.col("nrm").alias("norm_b"),
        "band",
        "band_key",
    )
    # Dedup-THEN-score, deliberately NOT the _minhash_pairs r12 move
    # (score-before-dedup): the cosine is a 64-double dot (an interpreted
    # fold when measured in r12) and a delta vector's true twin collides
    # in several bands, so scoring per band-copy multiplies the dominant compute —
    # measured interleaved old/new at the 10x fixture: 6.70/7.91 s
    # dedup-first vs 8.12 s score-first.  The integer-scored
    # SimHash/MinHash pair queries keep score-first.
    cand = (
        delta.join(store, ["band", "band_key"])
        .filter(F.col("vec_id") != F.col("other_id"))
        .dropDuplicates(["vec_id", "other_id"])
    )
    dot = F.expr(dot_spark("emb_a", "emb_b"))
    matches = cand.select(
        "vec_id",
        "other_id",
        (dot / (F.col("norm_a") * F.col("norm_b"))).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= NEAR_DUP_COS)
    best = F.struct(
        fround(F.col("cos_sim"), 6).alias("r"),
        (-F.col("other_id")).alias("neg_id"),
    )
    verdicts = matches.groupBy("vec_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.max(
            (F.col("other_id") % EMB_DELTA_MOD != 0).cast("int")
        ).alias("any_store"),
        (-F.max(best).getField("neg_id")).alias("best_match_id"),
        fround(F.max(fround(F.col("cos_sim"), 4)), 4).alias("best_cos"),
    )
    all_delta = sigged.filter(
        F.col("vec_id") % EMB_DELTA_MOD == 0
    ).select("vec_id")
    return all_delta.join(verdicts, "vec_id", "left").select(
        "vec_id",
        F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
        "best_match_id",
        "best_cos",
        F.when(F.col("any_store") == 1, "dup_of_store")
        .when(F.col("n_matches") > 0, "dup_in_batch")
        .otherwise("unique")
        .alias("dup_kind"),
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance kNN (ADC search over the codes)
# ---------------------------------------------------------------------------


@register(
    "q_pq_adc_knn",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    s AS (
        SELECT vec_id AS seed_id,
               {as_double_duck("embedding")} AS emb
        FROM embeddings WHERE vec_id < {PQ_CODES}
    ),
    scored AS (
        SELECT v.vec_id, s.seed_id,
               {", ".join(f"{_pq_dist_duck(b)} AS d{b}" for b in range(PQ_BLOCKS))}
        FROM v, s
    ),
    codes AS (
        SELECT vec_id,
               {", ".join(
                   f"CAST(min(struct_pack(d := d{b}, s := seed_id)).s AS INT)"
                   f" AS code{b}"
                   for b in range(PQ_BLOCKS)
               )}
        FROM scored GROUP BY vec_id
    ),
    lut AS (
        -- per-query, per-codebook-entry block distances: the ADC lookup
        -- tables (queries stay FULL precision; v restricted to the batch)
        SELECT v.vec_id AS query_id, s.seed_id,
               {", ".join(f"{_pq_dist_duck(b)} AS d{b}" for b in range(PQ_BLOCKS))}
        FROM v, s WHERE v.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT l0.query_id, c.vec_id AS neighbor_id,
               l0.d0 + l1.d1 + l2.d2 + l3.d3 AS adc_dist
        FROM codes c
        JOIN lut l0 ON l0.seed_id = c.code0
        JOIN lut l1 ON l1.query_id = l0.query_id AND l1.seed_id = c.code1
        JOIN lut l2 ON l2.query_id = l0.query_id AND l2.seed_id = c.code2
        JOIN lut l3 ON l3.query_id = l0.query_id AND l3.seed_id = c.code3
        WHERE c.vec_id <> l0.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id,
           {fround_sql("adc_dist")} AS adc_dist, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {K}
    """,
)
def q_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance kNN over the PQ codes (Jegou et al. 2011 §IV):
    the query stays FULL precision and precomputes one lookup table per
    sub-block (distance from its block to each of the {PQ_CODES} codebook
    entries); every corpus vector's approximate distance is then
    {PQ_BLOCKS} table lookups summed — no float arithmetic against the
    corpus at all.  This is the search path PQ exists for: at 100 TB the
    corpus is 2 bytes/vector of codes, the per-query LUTs are
    {PQ_BLOCKS}x{PQ_CODES} doubles riding a broadcast, and scan+lookup
    replaces the {DIM}-dim dot product of the exact path (q_embed_knn),
    with q_ann_recall's harness shape available to measure what the
    compression costs.

    Engine shape: the code table reuses q_pq_codes' derivation
    (broadcast codebook, min-over-struct argmin per block); the LUTs
    collapse to ONE broadcast row per query holding {PQ_BLOCKS}
    seed->distance maps, so scoring is a map lookup expression inside
    codegen over the codes scan — corpus never shuffles; the final
    top-{K} is the rank-limited window (WindowGroupLimit Partial).  Both
    engines sum the four block terms in the same written order from
    identical doubles, so the ranking needs no rounding guard."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.expr(as_double_spark("embedding")).alias("emb"))
    s = emb.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("seed_id"),
        F.expr(as_double_spark("embedding")).alias("s_emb"),
    )
    scored = v.crossJoin(F.broadcast(s)).select(
        "vec_id",
        "seed_id",
        *[F.expr(_pq_dist_spark(b)).alias(f"d{b}") for b in range(PQ_BLOCKS)],
    )
    codes = scored.groupBy("vec_id").agg(
        *[
            F.min(
                F.struct(F.col(f"d{b}").alias("d"), F.col("seed_id").alias("s"))
            )["s"]
            .cast("int")
            .alias(f"code{b}")
            for b in range(PQ_BLOCKS)
        ]
    )
    # One broadcast row per query: PQ_BLOCKS maps of seed -> block distance.
    lut = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .groupBy(F.col("vec_id").alias("query_id"))
        .agg(
            *[
                F.map_from_entries(
                    F.collect_list(F.struct("seed_id", F.col(f"d{b}")))
                ).alias(f"m{b}")
                for b in range(PQ_BLOCKS)
            ]
        )
    )
    adc = (
        codes.crossJoin(F.broadcast(lut))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.col("m0")[F.col("code0")]
                + F.col("m1")[F.col("code1")]
                + F.col("m2")[F.col("code2")]
                + F.col("m3")[F.col("code3")]
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select(
            "query_id",
            "neighbor_id",
            fround(F.col("adc_dist"), 4).alias("adc_dist"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# IVFADC: coarse cell routing + asymmetric-distance scoring (Jegou et al. §V)
# ---------------------------------------------------------------------------

NPROBE = 2  # coarse cells probed per query

# Coarse-quantizer centroids: the per-cell (label) mean embedding, quantized
# to 6 dp with the biased fround so BOTH engines hold bit-identical centroid
# arrays (the raw avg differs at summation-order ULPs; the quantum absorbs
# it).  Cell-routing distances then fold the identical doubles in identical
# element order, so the nprobe ranking is deterministic without a tolerance.


@register(
    "q_ivf_adc_knn",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    s AS (
        SELECT vec_id AS seed_id,
               {as_double_duck("embedding")} AS emb
        FROM embeddings WHERE vec_id < {PQ_CODES}
    ),
    scored AS (
        SELECT v.vec_id, v.label, s.seed_id,
               {", ".join(f"{_pq_dist_duck(b)} AS d{b}" for b in range(PQ_BLOCKS))}
        FROM v, s
    ),
    codes AS (
        SELECT vec_id, label,
               {", ".join(
                   f"CAST(min(struct_pack(d := d{b}, s := seed_id)).s AS INT)"
                   f" AS code{b}"
                   for b in range(PQ_BLOCKS)
               )}
        FROM scored GROUP BY vec_id, label
    ),
    cent AS (
        SELECT label, u.i AS dim, {fround_sql("avg(emb[u.i])", 6)} AS c
        FROM v, (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY label, u.i
    ),
    centlist AS (
        SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label
    ),
    q AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < {N_QUERIES}
    ),
    qcell AS (
        SELECT q.query_id, cl.label, {sqdist_duck("q.q_emb", "cl.cvec")} AS cdist
        FROM q, centlist cl
    ),
    probed AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cdist, label) AS r
            FROM qcell
        ) WHERE r <= {NPROBE}
    ),
    lut AS (
        SELECT v.vec_id AS query_id, s.seed_id,
               {", ".join(f"{_pq_dist_duck(b)} AS d{b}" for b in range(PQ_BLOCKS))}
        FROM v, s WHERE v.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               l0.d0 + l1.d1 + l2.d2 + l3.d3 AS adc_dist
        FROM probed p
        JOIN codes c ON c.label = p.label
        JOIN lut l0 ON l0.query_id = p.query_id AND l0.seed_id = c.code0
        JOIN lut l1 ON l1.query_id = p.query_id AND l1.seed_id = c.code1
        JOIN lut l2 ON l2.query_id = p.query_id AND l2.seed_id = c.code2
        JOIN lut l3 ON l3.query_id = p.query_id AND l3.seed_id = c.code3
        WHERE c.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id,
           {fround_sql("adc_dist")} AS adc_dist, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {K}
    """,
)
def q_ivf_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jegou et al. 2011 §V): the composition of q_embed_ivf's
    coarse cell routing and q_pq_adc_knn's asymmetric-distance scoring —
    a query is routed to its {NPROBE} nearest coarse cells (centroid =
    per-cell mean, the `label` column playing the offline coarse
    quantizer as in q_embed_ivf), and the ADC lookup-table scan then
    touches ONLY the probed cells' codes instead of the full corpus.
    This closes flat ADC's linearity in the corpus size: search
    cost per query drops from |corpus| to nprobe/nlist of it.

    Engine shape: centroids are a (label, dim)-keyed partial agg
    quantized to 6 dp (bit-identical across engines, see the
    coarse-quantizer note above) and collapse to nlist broadcast rows; cell routing is a
    broadcast nested-loop of the 10-row query batch x nlist centroids;
    the candidate generation is a BroadcastHashJoin of the codes scan
    against the tiny (query, cell) probe table — an EQUI-join, so at
    scale a label-partitioned codes table gives partition-pruned scans
    (tests/test_plans.py pins no-cartesian + BHJ); LUT scoring rides one
    broadcast map row per query exactly as in q_pq_adc_knn; top-{K} is
    the rank-limited window (WindowGroupLimit Partial).  The corpus
    never shuffles at any stage.

    Correctness: the full ranking is oracle-checked; the restriction
    golden (IVFADC == flat ADC re-ranked within probed cells) and the
    probe-membership invariant live in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", F.expr(as_double_spark("embedding")).alias("emb"))
    s = emb.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("seed_id"),
        F.expr(as_double_spark("embedding")).alias("s_emb"),
    )
    scored = v.crossJoin(F.broadcast(s)).select(
        "vec_id",
        "label",
        "seed_id",
        *[F.expr(_pq_dist_spark(b)).alias(f"d{b}") for b in range(PQ_BLOCKS)],
    )
    codes = scored.groupBy("vec_id", "label").agg(
        *[
            F.min(
                F.struct(F.col(f"d{b}").alias("d"), F.col("seed_id").alias("s"))
            )["s"]
            .cast("int")
            .alias(f"code{b}")
            for b in range(PQ_BLOCKS)
        ]
    )
    cent = (
        v.select("label", F.posexplode("emb").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(fround(F.avg("val"), 6).alias("c"))
    )
    centlist = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda st: st["c"]
        ).alias("cvec")
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    qcell = q.crossJoin(F.broadcast(centlist)).select(
        "query_id", "label", F.expr(sqdist_spark("q_emb", "cvec")).alias("cdist")
    )
    wc = Window.partitionBy("query_id").orderBy("cdist", "label")
    probed = (
        qcell.withColumn("r", F.row_number().over(wc))
        .filter(F.col("r") <= NPROBE)
        .select("query_id", "label")
    )
    lut = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .groupBy(F.col("vec_id").alias("query_id"))
        .agg(
            *[
                F.map_from_entries(
                    F.collect_list(F.struct("seed_id", F.col(f"d{b}")))
                ).alias(f"m{b}")
                for b in range(PQ_BLOCKS)
            ]
        )
    )
    adc = (
        codes.join(F.broadcast(probed), "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.col("m0")[F.col("code0")]
                + F.col("m1")[F.col("code1")]
                + F.col("m2")[F.col("code2")]
                + F.col("m3")[F.col("code3")]
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select(
            "query_id",
            "neighbor_id",
            fround(F.col("adc_dist"), 4).alias("adc_dist"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# IVFADC with RESIDUAL encoding — the faithful Jegou et al. 2011 §V form
# (FAISS by_residual=true; q_ivf_adc_knn is the by_residual=false mode)
# ---------------------------------------------------------------------------

_RES_DUCK = (
    f"list_transform(generate_series(1, {DIM}), i -> _e[i] - _c[i])"
)


@register(
    "q_ivfadc_residual_knn",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    cent AS (
        SELECT label, u.i AS dim, {fround_sql("avg(emb[u.i])", 6)} AS c
        FROM v, (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY label, u.i
    ),
    centlist AS (
        SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY label
    ),
    vres AS (
        SELECT vec_id, label,
               {_RES_DUCK.replace("_e", "v.emb").replace("_c", "cl.cvec")} AS emb
        FROM v JOIN centlist cl USING (label)
    ),
    s AS (
        SELECT vec_id AS seed_id, emb FROM vres WHERE vec_id < {PQ_CODES}
    ),
    scored AS (
        SELECT v.vec_id, v.label, s.seed_id,
               {", ".join(f"{_pq_dist_duck(b)} AS d{b}" for b in range(PQ_BLOCKS))}
        FROM vres v, s
    ),
    codes AS (
        SELECT vec_id, label,
               {", ".join(
                   f"CAST(min(struct_pack(d := d{b}, s := seed_id)).s AS INT)"
                   f" AS code{b}"
                   for b in range(PQ_BLOCKS)
               )}
        FROM scored GROUP BY vec_id, label
    ),
    q AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < {N_QUERIES}
    ),
    qcell AS (
        SELECT q.query_id, cl.label, {sqdist_duck("q.q_emb", "cl.cvec")} AS cdist
        FROM q, centlist cl
    ),
    probed AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cdist, label) AS r
            FROM qcell
        ) WHERE r <= {NPROBE}
    ),
    qres AS (
        SELECT p.query_id, p.label,
               {_RES_DUCK.replace("_e", "q.q_emb").replace("_c", "cl.cvec")} AS emb
        FROM probed p
        JOIN q USING (query_id)
        JOIN centlist cl ON cl.label = p.label
    ),
    lut AS (
        SELECT v.query_id, v.label, s.seed_id,
               {", ".join(f"{_pq_dist_duck(b)} AS d{b}" for b in range(PQ_BLOCKS))}
        FROM qres v, s
    ),
    adc AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               l0.d0 + l1.d1 + l2.d2 + l3.d3 AS adc_dist
        FROM probed p
        JOIN codes c ON c.label = p.label
        JOIN lut l0 ON l0.query_id = p.query_id AND l0.label = p.label
                   AND l0.seed_id = c.code0
        JOIN lut l1 ON l1.query_id = p.query_id AND l1.label = p.label
                   AND l1.seed_id = c.code1
        JOIN lut l2 ON l2.query_id = p.query_id AND l2.label = p.label
                   AND l2.seed_id = c.code2
        JOIN lut l3 ON l3.query_id = p.query_id AND l3.label = p.label
                   AND l3.seed_id = c.code3
        WHERE c.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id,
           {fround_sql("adc_dist")} AS adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {K}
    """,
)
def q_ivfadc_residual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the form Jegou et al. 2011 §V
    actually specifies (FAISS `by_residual=true`): every vector is PQ-
    encoded as its residual x - c(cell(x)) against its coarse centroid,
    and a query routed to a probed cell scores candidates against a
    lookup table built from ITS residual in THAT cell, q - c(cell).
    Residuals concentrate around the origin, so the same {PQ_CODES}-entry
    codebook spends its resolution on a tighter distribution — measured
    on the fixture corpus the residual codebook's total block
    quantization error is lower than the raw-space codebook's
    (tests/test_similarity.py pins the comparison), which is the entire
    reason the paper encodes residuals.  q_ivf_adc_knn keeps the
    `by_residual=false` mode (shared codes with the flat ADC searcher);
    this operator completes the pair.

    Engine shape: identical scale posture to q_ivf_adc_knn — centroids
    are a (label, dim) partial agg collapsing to nlist broadcast rows;
    the residual subtraction is one broadcast-joined zip_with over the
    corpus scan (no shuffle); cell routing is the 10-query x nlist
    broadcast; the LUT is now one broadcast row PER (query, probed cell)
    — nprobe x |batch| rows of {PQ_BLOCKS}x{PQ_CODES} doubles, still
    broadcast-sized by construction; candidate generation is the same
    label equi-join (partition-prunable at scale); top-{K} is the
    rank-limited window.  The corpus never shuffles.

    Determinism: centroids are 6 dp-quantized (bit-identical across
    engines), residuals subtract identical doubles, block distances and
    the 4-term LUT sum fold in fixed written order — no rounding guard
    needed before the display rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", F.expr(as_double_spark("embedding")).alias("emb"))
    cent = (
        v.select("label", F.posexplode("emb").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(fround(F.avg("val"), 6).alias("c"))
    )
    centlist = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda st: st["c"]
        ).alias("cvec")
    )
    vres = v.join(F.broadcast(centlist), "label").select(
        "vec_id",
        "label",
        F.expr("zip_with(emb, cvec, (x, y) -> x - y)").alias("emb"),
    )
    sres = vres.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("seed_id"), F.col("emb").alias("s_emb")
    )
    scored = vres.crossJoin(F.broadcast(sres)).select(
        "vec_id",
        "label",
        "seed_id",
        *[F.expr(_pq_dist_spark(b)).alias(f"d{b}") for b in range(PQ_BLOCKS)],
    )
    codes = scored.groupBy("vec_id", "label").agg(
        *[
            F.min(
                F.struct(F.col(f"d{b}").alias("d"), F.col("seed_id").alias("s"))
            )["s"]
            .cast("int")
            .alias(f"code{b}")
            for b in range(PQ_BLOCKS)
        ]
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    qcell = q.crossJoin(F.broadcast(centlist)).select(
        "query_id", "label", F.expr(sqdist_spark("q_emb", "cvec")).alias("cdist")
    )
    wc = Window.partitionBy("query_id").orderBy("cdist", "label")
    probed = (
        qcell.withColumn("r", F.row_number().over(wc))
        .filter(F.col("r") <= NPROBE)
        .select("query_id", "label")
    )
    qres = (
        probed.join(q, "query_id")
        .join(F.broadcast(centlist), "label")
        .select(
            "query_id",
            "label",
            F.expr("zip_with(q_emb, cvec, (x, y) -> x - y)").alias("emb"),
        )
    )
    lut = (
        qres.crossJoin(F.broadcast(sres))
        .select(
            "query_id",
            "label",
            "seed_id",
            *[F.expr(_pq_dist_spark(b)).alias(f"d{b}") for b in range(PQ_BLOCKS)],
        )
        .groupBy("query_id", "label")
        .agg(
            *[
                F.map_from_entries(
                    F.collect_list(F.struct("seed_id", F.col(f"d{b}")))
                ).alias(f"m{b}")
                for b in range(PQ_BLOCKS)
            ]
        )
    )
    adc = (
        codes.join(F.broadcast(lut), "label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.col("m0")[F.col("code0")]
                + F.col("m1")[F.col("code1")]
                + F.col("m2")[F.col("code2")]
                + F.col("m3")[F.col("code3")]
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select(
            "query_id",
            "neighbor_id",
            fround(F.col("adc_dist"), 4).alias("adc_dist"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic deduplication (Abbas et al. 2023)
# ---------------------------------------------------------------------------

SEMDEDUP_K = 32  # deterministic seed centroids: vec_id < K (corpus rows)
SEMDEDUP_COS = "0.95"  # within-cluster duplicate threshold, shared literal


@register(
    "q_semdedup",
    oracle=f"""
    WITH corpus AS ({_ND_CORPUS_DUCK}),
    c AS (
        SELECT vec_id, {as_double_duck("embedding")} AS emb
        FROM corpus
    ),
    s AS (
        SELECT vec_id AS cluster_id, emb AS semb
        FROM c WHERE vec_id < {SEMDEDUP_K}
    ),
    assign AS (
        SELECT c.vec_id,
               min(struct_pack(d := {sqdist_duck("c.emb", "s.semb")}, c := s.cluster_id)).c
                   AS cluster_id
        FROM c, s
        GROUP BY c.vec_id
    ),
    member AS (
        SELECT a.vec_id, a.cluster_id, c.emb,
               {norm_duck("c.emb")} AS nrm
        FROM assign a JOIN c USING (vec_id)
    ),
    centd AS (
        SELECT cluster_id, u.i AS dim, {fround_sql("avg(emb[u.i])", 6)} AS cv
        FROM member, (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY cluster_id, u.i
    ),
    cent AS (
        SELECT cluster_id, list(cv ORDER BY dim) AS cemb
        FROM centd GROUP BY cluster_id
    ),
    centn AS (
        SELECT cluster_id, cemb,
               {norm_duck("cemb")} AS cnrm
        FROM cent
    ),
    scored AS (
        SELECT m.vec_id, m.cluster_id, m.emb, m.nrm,
               {fround_sql(
                   dot_duck("m.emb", "cn.cemb")
                   + " / (m.nrm * cn.cnrm)", 6)} AS cos_cent,
               {_SIG_DUCK_ND.replace("emb_d", "m.emb")} AS sig
        FROM member m JOIN centn cn USING (cluster_id)
    ),
    sb AS (
        SELECT vec_id, cluster_id, emb, nrm, cos_cent, b.band,
               substr(sig, b.band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND})
                   AS band_key
        FROM scored, (SELECT unnest(generate_series(0, {N_BANDS - 1}))
                      AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS va, a.cos_cent AS cc_a, a.emb AS emb_a,
                        a.nrm AS nrm_a,
                        b.vec_id AS vb, b.cos_cent AS cc_b, b.emb AS emb_b,
                        b.nrm AS nrm_b
        FROM sb a JOIN sb b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
    ),
    pairs AS (
        SELECT va, cc_a, vb, cc_b
        FROM cand
        WHERE {fround_sql(
                  dot_duck("emb_a", "emb_b")
                  + " / (nrm_a * nrm_b)", 6)} > {SEMDEDUP_COS}
    ),
    nb AS (
        SELECT va AS vec_id, CAST(count(*) AS BIGINT) AS n_dups,
               max(CASE WHEN cc_b < cc_a
                          OR (cc_b = cc_a AND vb < va)
                        THEN 1 ELSE 0 END) AS dropped
        FROM pairs GROUP BY va
    )
    SELECT s.vec_id, s.cluster_id,
           {fround_sql("s.cos_cent")} AS cos_to_centroid,
           coalesce(nb.n_dups, 0) AS n_dups,
           coalesce(nb.dropped, 0) = 0 AS keep
    FROM scored s LEFT JOIN nb USING (vec_id)
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    corpus, call two in-cluster members semantic duplicates when their
    cosine exceeds {SEMDEDUP_COS}, and keep ONE representative per
    duplicate neighborhood — the member with the LOWEST
    cosine-to-centroid (the paper's best-performing keep policy: retain
    the least prototypical example), applied greedily: a vector is
    dropped iff some above-threshold in-cluster neighbor is strictly
    preferred (lower quantized cos-to-centroid, ties to the lower
    vec_id).  Clustering is the engine's deterministic one-pass seed
    assignment (first {SEMDEDUP_K} corpus vectors as centroids, exact
    squared-L2 min with lexicographic tie-break — q_embed_centroids'
    assignment step standing in for the paper's k-means, which it
    matches in plan shape; more Lloyd iterations change the centroids,
    not the plan).  The corpus is the planted near-dup convention shared
    with q_embed_near_dup (every 25th vector re-appears perturbed under
    vec_id+10000, cosine ~0.999), so the keep policy is exercised
    non-vacuously and oracle-checked: exactly one member of each
    SAME-CLUSTER planted twin survives (a twin whose perturbation flips
    its nearest seed is missed — the paper's documented cross-cluster
    limitation, inherent to cluster-scoped dedup).

    Candidate generation is SRP-LSH-banded, not exhaustive: the paper's
    within-cluster all-pairs is its GPU realization and goes quadratic
    in cluster size when k is fixed; here in-cluster candidates form
    only inside matching 12-bit SRP band buckets (q_embed_near_dup's
    corpus-self-join sketch — near-twins at cos >= {SEMDEDUP_COS} agree
    per-bit ~0.98+ and collide in >=1 of 4 bands with ~99.9%
    probability, random pairs at ~2^-12 per band), then score exact
    cosine.  The banding is part of the operator's SEMANTICS and the
    oracle mirrors it bit-for-bit, so the check is exact, not
    tolerance-based.

    Determinism across engines: centroids are per-dimension means
    quantized to 6 dp with the biased fround (the IVFADC coarse-centroid
    discipline — both engines then hold bit-identical arrays), every
    dot/norm/signature folds exact doubles in identical element order,
    and both cosines are 6 dp-quantized before the threshold /
    preference comparisons.

    Scale: seeds and the k x {DIM} centroid table ride broadcasts;
    assignment collapses the k candidate rows per vector map-side
    before the only corpus-keyed shuffle; the pair join is an equi-join
    on (band, band_key, cluster_id) — never a cross product — so
    candidate volume stays near-linear in the corpus.  At 100 TB the
    64-double vectors riding the candidate join would be replaced by PQ
    codes with exact rescoring of survivors (q_pq_adc_knn's 2 B/vector
    corpus side — the q_sparse_cosine_topk candidate-then-verify shape
    in embedding space)."""
    c = _near_dup_corpus(spark, sf_dir).select(
        "vec_id", F.expr(as_double_spark("embedding")).alias("emb")
    )
    s = c.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("cluster_id"), F.col("emb").alias("semb")
    )
    dist = F.expr(sqdist_spark("emb", "semb"))
    assign = (
        c.crossJoin(F.broadcast(s))
        .select(
            "vec_id",
            "emb",
            F.struct(dist.alias("d"), F.col("cluster_id").alias("c")).alias(
                "dc"
            ),
        )
        .groupBy("vec_id")
        # first(emb) is deterministic: the k candidate rows of a vec_id
        # group fan out from one corpus row (q_embed_centroids pattern).
        .agg(F.min("dc").alias("m"), F.first("emb").alias("emb"))
        .select("vec_id", F.col("m.c").alias("cluster_id"), "emb")
    )
    member = assign.withColumn(
        "nrm", F.expr(norm_spark("emb"))
    )
    centd = (
        assign.select("cluster_id", F.posexplode("emb").alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(fround(F.avg("val"), 6).alias("cv"))
    )
    centn = centd.groupBy("cluster_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)"
        ).alias("cemb")
    ).withColumn("cnrm", F.expr(norm_spark("cemb")))
    # scored feeds both pair-join legs and the final left join; eager
    # localCheckpoint (ContextCleaner-released) — the q_simhash_eval
    # multi-leg lineage discipline.  The 48-plane SRP signature is
    # computed BEFORE the checkpoint so it materializes once.
    scored = (
        member.join(F.broadcast(centn), "cluster_id")
        .withColumnRenamed("emb", "emb_d")
        .withColumn("sig", F.expr(_SIG_SPARK_ND))
        .withColumnRenamed("emb_d", "emb")
        .select(
            "vec_id",
            "cluster_id",
            "emb",
            "nrm",
            "sig",
            fround(
                F.expr(dot_spark("emb", "cemb"))
                / (F.col("nrm") * F.col("cnrm")),
                6,
            ).alias("cos_cent"),
        )
        .localCheckpoint(eager=True)
    )
    band = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band")
    sb = scored.select(
        "vec_id", "cluster_id", "emb", "nrm", "cos_cent", "sig", band
    ).withColumn(
        "band_key",
        F.expr(f"substr(sig, band * {_BAND_BITS_ND} + 1, {_BAND_BITS_ND})"),
    )
    a = sb.select(
        F.col("vec_id").alias("va"),
        "cluster_id",
        "band",
        "band_key",
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.col("cos_cent").alias("cc_a"),
    )
    b = sb.select(
        F.col("vec_id").alias("vb"),
        "cluster_id",
        "band",
        "band_key",
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.col("cos_cent").alias("cc_b"),
    )
    # Dedup-THEN-score, deliberately NOT the _minhash_pairs r12 move
    # (score-before-dedup): the cosine is a 64-double dot (an interpreted
    # fold when measured in r12) and cluster-mates' near-twins collide in
    # several bands, so scoring per band-copy multiplies the dominant compute —
    # measured interleaved old/new at the 10x fixture: 8.02/8.70 s
    # dedup-first vs 12.01 s score-first (an sf0.1 probe that favored
    # score-first was band noise).  The integer-scored SimHash/MinHash
    # pair queries keep score-first.
    pairs = (
        a.join(b, ["band", "band_key", "cluster_id"])
        .filter(F.col("va") != F.col("vb"))
        .dropDuplicates(["va", "vb"])
        .withColumn(
            "cos_ab",
            fround(
                F.expr(dot_spark("emb_a", "emb_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            ),
        )
        .filter(F.col("cos_ab") > F.expr(f"CAST({SEMDEDUP_COS} AS DOUBLE)"))
    )
    nb = pairs.groupBy("va").agg(
        F.count("*").cast("long").alias("n_dups"),
        F.max(
            F.when(
                (F.col("cc_b") < F.col("cc_a"))
                | (
                    (F.col("cc_b") == F.col("cc_a"))
                    & (F.col("vb") < F.col("va"))
                ),
                1,
            ).otherwise(0)
        ).alias("dropped"),
    )
    return (
        scored.join(nb, scored.vec_id == nb.va, "left")
        .select(
            "vec_id",
            "cluster_id",
            fround(F.col("cos_cent"), 4).alias("cos_to_centroid"),
            F.coalesce(F.col("n_dups"), F.lit(0).cast("long")).alias(
                "n_dups"
            ),
            (F.coalesce(F.col("dropped"), F.lit(0)) == 0).alias("keep"),
        )
    )
