"""Sketch-vs-exact quality contracts: the production-scale approximate
aggregates (KLL-style approx_percentile, HyperLogLog++ distinct counts)
must track the oracle-checked exact forms within their documented error —
the same exact-baseline/approx-twin pattern as the LSH recall tests.  The
mergeable summaries (bottom-k sample, quantile bins, Bloom membership,
range-partition plan) are checked against a pure-Python recompute."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from pyspark.sql import functions as F

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.summaries import (
    BLOOM_K,
    BLOOM_M,
    PARTITION_TARGET_ROWS,
    SAMPLE_K,
)
from real_time_iot_data_engineering_pipeline_spark.sources import load_table

from .test_stateful import event_columns

registry.load_all()


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """A quantile sketch guarantees RANK error, not value error (in a heavy
    tail a tiny rank slip moves the value a lot) — so the contract checked
    here is the real one: each approx quantile must lie between the EXACT
    quantiles at p +/- delta."""
    delta = 0.02
    ev = load_table(spark, sf_dir, "events")
    lo_hi = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            *[
                F.expr(f"percentile(value, {max(p - delta, 0.0)})").alias(
                    f"lo{int(p * 100)}"
                )
                for p in (0.5, 0.9, 0.99)
            ],
            *[
                F.expr(f"percentile(value, {min(p + delta, 1.0)})").alias(
                    f"hi{int(p * 100)}"
                )
                for p in (0.5, 0.9, 0.99)
            ],
        )
        .collect()
    }
    approx = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            *[
                F.expr(f"approx_percentile(value, {p}, 1000)").alias(
                    f"a{int(p * 100)}"
                )
                for p in (0.5, 0.9, 0.99)
            ]
        )
        .collect()
    }
    assert set(lo_hi) == set(approx)
    for et in lo_hi:
        for p in (50, 90, 99):
            a = approx[et][f"a{p}"]
            lo, hi = lo_hi[et][f"lo{p}"], lo_hi[et][f"hi{p}"]
            assert lo - 1e-9 <= a <= hi + 1e-9, (et, p, lo, a, hi)


def test_hll_tracks_exact_distinct(spark, sf_dir):
    exact = {
        r.event_type: r.n_users
        for r in registry.QUERIES["q_distinct_users"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    approx = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n"))
        .collect()
    }
    assert set(exact) == set(approx)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(0.1 * n, 2), (et, n, approx[et])


class TestBottomkSample:
    def test_equals_python_md5_bottom_k(self, spark, sf_dir):
        ev = event_columns(sf_dir, ["event_id"])
        tagged = sorted(
            (hashlib.md5(str(e).encode()).hexdigest(), e)
            for e in ev["event_id"]
        )
        expect = [e for _, e in tagged[:SAMPLE_K]]
        rows = registry.QUERIES["q_bottomk_sample"](spark, sf_dir).collect()
        assert sorted(r["event_id"] for r in rows) == sorted(expect)

    def test_sample_is_merge_consistent(self, spark, sf_dir):
        """Bottom-k of a union == bottom-k of (bottom-k(A) ∪ bottom-k(B)):
        the mergeable-summary property that lets per-partition samples
        combine without bias."""
        ev = event_columns(sf_dir, ["event_id"])
        ids = ev["event_id"]
        half_a, half_b = ids[::2], ids[1::2]

        def bottom_k(xs):
            return sorted(
                (hashlib.md5(str(e).encode()).hexdigest(), e) for e in xs
            )[:SAMPLE_K]

        merged = sorted(bottom_k(half_a) + bottom_k(half_b))[:SAMPLE_K]
        assert merged == bottom_k(ids)


class TestQuantileBins:
    def test_matches_python_rank_selection(self, spark, sf_dir):
        import pyarrow.parquet as pq

        li = pq.read_table(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_returnflag", "l_extendedprice"],
        ).to_pydict()
        per = defaultdict(list)
        for g, x in zip(li["l_returnflag"], li["l_extendedprice"]):
            per[g].append(x)
        rows = registry.QUERIES["q_quantile_bins"](spark, sf_dir).collect()
        assert len(rows) == 2 * len(per)
        for r in rows:
            xs = sorted(per[r["l_returnflag"]])
            rank = math.ceil(r["q"] * len(xs))  # 1-indexed PERCENTILE_DISC
            assert r["n"] == len(xs)
            assert r["quantile"] == xs[rank - 1]


class TestBloomMembership:
    def test_bloom_properties_and_python_recount(self, spark, sf_dir):
        import pyarrow.parquet as pq

        orders = pq.read_table(
            f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderstatus"]
        ).to_pydict()
        members = {
            c
            for c, s in zip(orders["o_custkey"], orders["o_orderstatus"])
            if s == "F"
        }
        custs = pq.read_table(
            f"{sf_dir}/customer.parquet", columns=["c_custkey"]
        ).to_pydict()["c_custkey"]
        row = registry.QUERIES["q_bloom_membership"](spark, sf_dir).collect()[0]
        assert row["n_customers"] == len(custs)
        assert row["n_members"] == len(set(custs) & members)
        assert row["n_false_negatives"] == 0  # the Bloom guarantee
        assert row["fp_rate_ok"]
        # sanity: the filter is NOT vacuous — m bits vs k*n set positions
        assert BLOOM_K * len(members) < BLOOM_M


class TestPartitionPlan:
    def test_bounds_are_balanced_and_ordered(self, spark, sf_dir):
        import pyarrow.parquet as pq

        keys = sorted(
            pq.read_table(
                f"{sf_dir}/lineitem.parquet", columns=["l_orderkey"]
            ).to_pydict()["l_orderkey"]
        )
        n = len(keys)
        p = math.ceil(n / PARTITION_TARGET_ROWS)
        rows = sorted(
            registry.QUERIES["q_partition_plan"](spark, sf_dir).collect(),
            key=lambda r: r["partition_id"],
        )
        assert len(rows) == p - 1
        bounds = [r["boundary_key"] for r in rows]
        assert bounds == sorted(bounds)
        for r in rows:
            rank = math.ceil(r["partition_id"] * (n / p))
            assert r["rows_through"] == rank
            # boundary key = smallest key whose cumulative count >= rank
            assert keys[rank - 1] <= r["boundary_key"]
            below = sum(1 for k in keys if k < r["boundary_key"])
            assert below < rank
