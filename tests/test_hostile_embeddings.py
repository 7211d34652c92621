"""Hostile-embeddings PARITY: the similarity-tier companion of
tests/test_hostile_docs.py — registered queries and their DuckDB oracles
must agree on vectors a 100 TB corpus will certainly contain but the
driver fixture's well-behaved gaussians never include: the all-zero
vector (norm 0 — every cosine against it divides by zero), an exact
duplicate pair, a tiny-norm colinear copy (float32 underflow territory),
and a huge-norm vector (overflow territory for naive dot products).

Both engines propagate the zero-norm division identically (NaN survives
the cosine, fails every >= threshold, and drops out of top-k), which is
the behavior the tier's operators rely on — pinned here so a future
"helpful" nullif() on one side only cannot silently diverge.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.functions.vectors import DIM
from .oracle_utils import compare

registry.load_all()

_PARITY_QUERIES = (
    "q_embed_knn",
    "q_embed_knn_lsh",
    "q_embed_near_dup",
    "q_embed_ivf",
    "q_embed_dedup_incremental",
    "q_embed_centroids",
    "q_embed_quantize",
    "q_embed_outliers",
    "q_embed_anisotropy",
    "q_semantic_dedup",
    "q_knn_classify",
    "q_pq_codes",
    "q_pq_adc_knn",
    # round-10 widening: the remaining embeddings-only queries join the
    # hostile table (zero vector, exact duplicates, tiny/huge norms).
    "q_cluster_purity",
    "q_embed_binary_eval",
    "q_embed_centroid_drift",
    "q_embed_truncation_eval",
    "q_label_balance",
    "q_power_iteration",
    "q_silhouette",
    # round-11: q_kmeans_step graduated from _EXCLUDED_NON_FINITE — its
    # distance quantization is now fround_guarded (quantize inside the
    # meaningful small range, pass the order-identically-folded raw
    # double through where the 10^-n grain is sub-ULP), so the float32-
    # max row no longer trips Spark's floor->LONG saturation.
    "q_kmeans_step",
    "q_ivf_adc_knn",
    "q_ivfadc_residual_knn",
)

# Excluded with the mechanism documented (same contract as the
# test_hostile_gate.py exclusions).  Round 11: empty — q_kmeans_step,
# the last exclusion, graduated via functions/rounding.fround_guarded.
_EXCLUDED_NON_FINITE: dict[str, str] = {}


def test_excluded_queries_fail_for_the_documented_reason(
    spark, hostile_emb_sf, hostile_emb_duck
):
    """Honesty guard: an excluded query that starts passing must be
    consciously moved back into _PARITY_QUERIES."""
    stale = []
    for name in _EXCLUDED_NON_FINITE:
        try:
            sdf = registry.QUERIES[name](spark, hostile_emb_sf).toPandas()
            ddf = hostile_emb_duck.execute(registry.ORACLES[name]).fetchdf()
            problems = compare(sdf, ddf)
        except Exception:
            problems = ["raised"]
        if not problems:
            stale.append(name)
    assert not stale, f"excluded queries now PASS hostile parity: {stale}"


@pytest.fixture(scope="module")
def hostile_emb_sf(tmp_path_factory) -> str:
    path = tmp_path_factory.mktemp("hostile_emb")
    rng = np.random.default_rng(7)
    rows = {vid: rng.normal(size=DIM).astype(np.float32) for vid in range(60)}
    rows[3] = np.zeros(DIM, dtype=np.float32)  # zero vector, norm 0
    rows[7] = rows[11].copy()  # exact duplicate pair
    rows[15] = (rows[19] * 1e-8).astype(np.float32)  # tiny-norm colinear
    rows[23] = (rows[23] * 1e6).astype(np.float32)  # huge-norm
    ids = sorted(rows)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, type=pa.int64()),
                "embedding": pa.array(
                    [rows[i].tolist() for i in ids],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array([int(i % 5) for i in ids], type=pa.int64()),
            }
        ),
        f"{path}/embeddings.parquet",
    )
    return str(path)


@pytest.fixture(scope="module")
def hostile_emb_duck(hostile_emb_sf):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{hostile_emb_sf}/embeddings.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", _PARITY_QUERIES)
def test_hostile_embeddings_parity(spark, hostile_emb_sf, hostile_emb_duck, name):
    sdf = registry.QUERIES[name](spark, hostile_emb_sf).toPandas()
    ddf = hostile_emb_duck.execute(registry.ORACLES[name]).fetchdf()
    problems = compare(sdf, ddf)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_zero_vector_never_matches(spark, hostile_emb_sf):
    """The zero vector's cosines are NaN: it must never appear in a
    near-dup pair (NaN fails the >= threshold in both engines)."""
    pairs = registry.QUERIES["q_embed_near_dup"](
        spark, hostile_emb_sf
    ).collect()
    assert all(r.id_a != 3 and r.id_b != 3 for r in pairs)


def test_exact_duplicate_pair_found(spark, hostile_emb_sf):
    """The planted exact duplicate (7 == copy of 11) must surface with
    cosine 1.0 — identical float32 payloads leave no room for recall
    excuses."""
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in registry.QUERIES["q_embed_near_dup"](
            spark, hostile_emb_sf
        ).collect()
    }
    assert (7, 11) in pairs, pairs
    assert abs(pairs[(7, 11)] - 1.0) < 1e-6
