"""Embedding-corpus health checks: centroid drift between corpus halves and
label-balance statistics — the diagnostics a training-data owner runs on an
embedding table before trusting ANN indexes or stratified samples built on
top of it.  Complements queries/similarity.py (KNN/LSH/IVF/PQ) with the
monitoring tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import (
    fround,
    fround_guarded,
    fround_guarded_sql,
    fround_sql,
)
from ..functions.vectors import (
    DIM,
    as_double_duck,
    as_double_spark,
    sqdist_duck,
    sqdist_spark,
    sum_duck,
    sum_spark,
)
from ..registry import register
from ..sources import load_table


@register(
    "q_embed_centroid_drift",
    oracle=f"""
    WITH halves AS (
        SELECT label, vec_id % 2 AS half,
               {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    cents AS (
        SELECT label, half, u.i AS dim, avg(emb[u.i + 1]) AS c
        FROM halves, (SELECT unnest(generate_series(0, {DIM - 1})) AS i) u
        GROUP BY label, half, u.i
    ),
    counts AS (
        SELECT label,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM halves GROUP BY label
    ),
    paired AS (
        SELECT a.label,
               sum(a.c * b.c) AS dot,
               sum(a.c * a.c) AS na,
               sum(b.c * b.c) AS nb
        FROM cents a JOIN cents b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half = 0 AND b.half = 1
        GROUP BY a.label
    )
    SELECT p.label, c.n_a, c.n_b,
           {fround_sql("p.dot / sqrt(p.na * p.nb)", 6)} AS centroid_cos
    FROM paired p JOIN counts c ON p.label = c.label
    """,
)
def q_embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two deterministic halves of the
    embedding corpus (vec_id parity): cosine between each half's label
    centroid.  A label whose halves disagree (cos well under its peers)
    marks an unstable or mixed cluster — exactly the labels whose IVF
    cells (similarity.py:444) will route badly.

    Scale: posexplode -> (label, half, dim) partial-aggregated means
    (state = labels x 2 x {DIM}, data-size independent), then the cosine
    is a {DIM}-row-per-label join of a TINY centroid table against
    itself.  The corpus is scanned once; the vectors never pairwise
    join."""
    halves = load_table(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    cents = halves.groupBy("label", "half", "dim").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    counts = (
        load_table(spark, sf_dir, "embeddings")
        .select("label", (F.col("vec_id") % 2).alias("half"))
        .groupBy("label")
        .agg(
            F.sum((F.col("half") == 0).cast("long")).cast("long").alias("n_a"),
            F.sum((F.col("half") == 1).cast("long")).cast("long").alias("n_b"),
        )
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("cb")
    )
    paired = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb"),
        )
    )
    return paired.join(counts, "label").select(
        "label",
        "n_a",
        "n_b",
        fround(F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6).alias(
            "centroid_cos"
        ),
    )


N_LABELS = 10  # embeddings fixture label domain


@register(
    "q_label_balance",
    oracle=f"""
    WITH per_label AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings
        GROUP BY label
    ),
    tot AS (
        SELECT CAST(sum(n) AS DOUBLE) AS total,
               CAST(count(*) AS DOUBLE) AS n_labels,
               max(n) AS max_n, min(n) AS min_n
        FROM per_label
    ),
    chi AS (
        SELECT sum(-1.0 * (p.n / t.total) * ln(p.n / t.total)) AS h,
               sum(pow(p.n - t.total / t.n_labels, 2)
                   / (t.total / t.n_labels)) AS chi2
        FROM per_label p, tot t
    )
    SELECT p.label, p.n,
           {fround_sql("p.n / t.total", 6)} AS share,
           {fround_sql("c.h", 6)} AS entropy,
           {fround_sql("t.max_n / CAST(t.min_n AS DOUBLE)", 6)}
               AS imbalance_ratio,
           {fround_sql("c.chi2", 4)} AS chi2_vs_uniform
    FROM per_label p, tot t, chi c
    """,
)
def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance report for the embedding corpus: per-label share plus
    the corpus-level entropy, max/min imbalance ratio, and chi-square
    against the uniform distribution — what a stratified train/test
    splitter checks before trusting per-label quotas.

    Scale: one partial-aggregating groupBy to |labels| rows; everything
    else is scalar math over that tiny table with broadcast join-backs."""
    per_label = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = per_label.agg(
        F.sum("n").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_labels"),
        F.max("n").alias("max_n"),
        F.min("n").alias("min_n"),
    )
    with_tot = per_label.crossJoin(F.broadcast(tot))
    scalars = with_tot.agg(
        F.sum(
            -(F.col("n") / F.col("total"))
            * F.log(F.col("n") / F.col("total"))
        ).alias("h"),
        F.sum(
            F.pow(F.col("n") - F.col("total") / F.col("n_labels"), F.lit(2.0))
            / (F.col("total") / F.col("n_labels"))
        ).alias("chi2"),
    )
    return (
        with_tot.crossJoin(F.broadcast(scalars))
        .select(
            "label",
            "n",
            fround(F.col("n") / F.col("total"), 6).alias("share"),
            fround(F.col("h"), 6).alias("entropy"),
            fround(F.col("max_n") / F.col("min_n").cast("double"), 6).alias(
                "imbalance_ratio"
            ),
            fround(F.col("chi2"), 4).alias("chi2_vs_uniform"),
        )
    )


# ---------------------------------------------------------------------------
# One Lloyd iteration of k-means (deterministic seeds)
# ---------------------------------------------------------------------------

KMEANS_K = 8  # seeds = the vectors with vec_id < KMEANS_K


@register(
    "q_kmeans_step",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cid, emb AS cent FROM vecs
        WHERE vec_id < {KMEANS_K}
    ),
    dists AS (
        SELECT v.vec_id, c.cid,
               {fround_guarded_sql(sqdist_duck("v.emb", "c.cent"), 9)} AS sqd
        FROM vecs v, cents c
    ),
    assigned AS (
        SELECT vec_id, cid, sqd,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY sqd, cid
               ) AS rn
        FROM dists
    )
    SELECT cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           {fround_guarded_sql("avg(sqd)")} AS avg_sqdist,
           {fround_guarded_sql("sum(sqd)", 2)} AS inertia
    FROM assigned WHERE rn = 1
    GROUP BY cid
    ORDER BY cid
    """,
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus with
    deterministic seeds (the {KMEANS_K} lowest vec_ids): assign every
    vector to its nearest seed by squared L2 (ties to the smaller
    centroid id) and report per-cluster size, mean squared distance, and
    inertia — the building block an iterative clustering driver loops,
    shown as a single certified step (iteration count doesn't change the
    plan, only how many times it runs).

    Scale: the K seed vectors ride a broadcast; assignment is a map-side
    argmin over K per row (no shuffle, no pairwise corpus join), and the
    per-cluster stats partial-aggregate down to K rows.  Distances are
    quantized (fround_guarded 9) BEFORE the argmin on both engines so the
    nearest-seed choice can't flip on summation regrouping; past the
    guard's range the quantum is below the double's ULP (vacuous) and the
    raw — order-identically folded, hence bit-identical — distance passes
    through instead of hitting Spark's floor->LONG saturation
    (tests/test_hostile_embeddings.py runs this on float32-max rows)."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double_spark("embedding")).alias("emb")
    )
    cents = (
        vecs.filter(F.col("vec_id") < KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cent"))
    )
    sqd = fround_guarded(F.expr(sqdist_spark("emb", "cent")), 9)
    dists = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", sqd.alias("sqd")
    )
    best = dists.groupBy("vec_id").agg(
        F.min(F.struct("sqd", "cid")).alias("m")
    )
    return (
        best.select(F.col("m.cid").alias("cluster_id"), F.col("m.sqd").alias("sqd"))
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_assigned"),
            fround_guarded(F.avg("sqd")).alias("avg_sqdist"),
            fround_guarded(F.sum("sqd"), 2).alias("inertia"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Centroid silhouette (simplified silhouette against label centroids)
# ---------------------------------------------------------------------------


@register(
    "q_silhouette",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, label,
               {as_double_duck("embedding")} AS emb
        FROM embeddings
    ),
    dims AS (
        SELECT label, u.i AS dim, avg(emb[u.i]) AS c
        FROM vecs, (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY label, u.i
    ),
    cents AS (
        SELECT label AS c_label, list(c ORDER BY dim) AS cent
        FROM dims GROUP BY label
    ),
    dists AS (
        SELECT v.vec_id, v.label, c.c_label,
               sqrt({sqdist_duck("v.emb", "c.cent")}) AS d
        FROM vecs v, cents c
    ),
    ab AS (
        SELECT vec_id, label,
               max(CASE WHEN c_label = label THEN d END) AS a,
               min(CASE WHEN c_label != label THEN d END) AS b
        FROM dists GROUP BY vec_id, label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           {fround_sql("avg((b - a) / greatest(a, b))")} AS avg_silhouette,
           {fround_sql(
               "sum(CASE WHEN b > a THEN 1 ELSE 0 END)"
               " / CAST(count(*) AS DOUBLE)",
               6,
           )} AS well_assigned_frac
    FROM ab
    GROUP BY label
    ORDER BY label
    """,
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid) silhouette per label: a(i) = distance to the
    own-label centroid, b(i) = distance to the nearest other label's
    centroid, s(i) = (b - a) / max(a, b) — the O(N x K) variant of the
    O(N^2) full silhouette, which is the only form that survives large
    corpora.  Low avg_silhouette labels are mixed or overlapping
    clusters; well_assigned_frac is the share of vectors closer to their
    own centroid than to any other.

    Scale: centroids come from ONE posexplode partial-agg pass (state =
    labels x {DIM}); the K centroid rows then ride a broadcast and every
    distance is a map-side {DIM}-step fold — the corpus never joins
    itself.  Per-vector distances fold dimensions in index order on both
    engines (bit-identical), so a/b selection can't diverge; only the
    final label means are quantized."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(as_double_spark("embedding")).alias("emb"),
    )
    dims = vecs.select(
        "label", F.posexplode("emb").alias("dim", "v")
    ).groupBy("label", "dim").agg(F.avg("v").alias("c"))
    cents = (
        dims.groupBy(F.col("label").alias("c_label"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
            ).alias("cent")
        )
    )
    d = F.sqrt(F.expr(sqdist_spark("emb", "cent")))
    dists = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "c_label", d.alias("d")
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c_label") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("d"))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return (
        ab.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            fround(F.avg(s)).alias("avg_silhouette"),
            fround(
                F.sum((F.col("b") > F.col("a")).cast("long"))
                / F.count("*").cast("double"),
                6,
            ).alias("well_assigned_frac"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Power-iteration step (round 7)
# ---------------------------------------------------------------------------

# v0 = the all-equal unit vector (1/sqrt(DIM) per coordinate): fully
# deterministic, and x . v0 reduces to a per-row sequential list sum that
# both engines evaluate in identical order.
_V0 = 0.125  # 1 / sqrt(64)


@register(
    "q_power_iteration",
    oracle=f"""
    WITH emb AS (
        SELECT vec_id, {as_double_duck("embedding")} AS e
        FROM embeddings
    ),
    scored AS (
        SELECT vec_id, e, {sum_duck("e")} * {_V0} AS s FROM emb
    ),
    w AS (
        SELECT u.i AS dim,
               (floor((sum(s * e[u.i + 1])) * 1e6 * (1 + 1e-12) + 0.5) / 1e6)
                   AS w
        FROM scored, (SELECT unnest(generate_series(0, {DIM - 1})) AS i) u
        GROUP BY u.i
    ),
    nrm AS (SELECT sqrt(sum(w * w)) AS n FROM w)
    SELECT dim, w,
           (floor((w / n) * 1e4 * (1 + 1e-12) + 0.5) / 1e4) AS v1
    FROM w, nrm
    ORDER BY dim
    """,
)
def q_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus Gram matrix's top
    eigenvector: w = sum_x (x . v0) x from the all-equal unit start
    vector, then the normalized iterate v1 = w / ||w|| — the first step
    of the dominant-direction estimate behind anisotropy correction
    (all-but-the-top removal) and spectral diagnostics, as a certifiable
    query.  Further iterations repeat the same shape with v1 broadcast
    back in.

    Scale: the projection x . v0 is a per-row array fold (no shuffle);
    the per-dimension accumulation posexplodes to (dim, s*x_d) rows and
    partial-aggregates into exactly DIM groups — one bounded shuffle of
    DIM x n_partitions rows, never a d x d matrix.  w is quantized
    (fround 6) BEFORE the norm on both engines so normalization cannot
    amplify summation-order ULPs."""
    # The array is built from literal-index casts and summed unrolled: no
    # per-element lambda in the hot path.
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.expr(as_double_spark("embedding", DIM)).alias("e")
    )
    scored = emb.select("e", (F.expr(sum_spark("e")) * _V0).alias("s"))
    w = (
        scored.select(F.posexplode("e").alias("dim", "x"), "s")
        .groupBy("dim")
        .agg(fround(F.sum(F.col("s") * F.col("x")), 6).alias("w"))
    )
    nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("n"))
    return (
        w.crossJoin(F.broadcast(nrm))
        .select("dim", "w", fround(F.col("w") / F.col("n"), 4).alias("v1"))
        .orderBy("dim")
    )
