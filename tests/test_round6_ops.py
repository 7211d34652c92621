"""Model + plan tests for the round-6 operators (stateful twins, mergeable
summaries, manifest reports, embedding health, relational behavior): each is
cross-checked against an INDEPENDENT pure-Python recompute — the oracle
parity suite must never be the only line of defense — and the plan shapes
the 100 TB story depends on are pinned.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.stateful_twins import (
    MG_CAPACITY,
    SUPPORT_K,
    _mg_partition,
)
from real_time_iot_data_engineering_pipeline_spark.queries.summaries import (
    BLOOM_K,
    BLOOM_M,
    PARTITION_TARGET_ROWS,
    SAMPLE_K,
)

registry.load_all()


def _events(sf_dir, columns):
    import pyarrow.parquet as pq

    return pq.read_table(f"{sf_dir}/events.parquet", columns=columns).to_pydict()


class TestMisraGries:
    def test_output_equals_exact_heavy_hitters(self, spark, sf_dir):
        ev = _events(sf_dir, ["user_id"])
        counts = Counter(u for u in ev["user_id"] if u is not None)
        n = sum(counts.values())
        expect = {u: c for u, c in counts.items() if c > n / SUPPORT_K}
        rows = registry.QUERIES["q_misra_gries"](spark, sf_dir).collect()
        assert {r["user_id"]: r["n"] for r in rows} == expect

    def test_partition_summary_is_superset_under_any_split(self):
        """MG with C=2K counters per partition must surface every global
        1/K-heavy key no matter how rows are split — exercised on a skewed
        synthetic stream under three adversarial partitionings."""
        import pandas as pd

        keys = [1] * 500 + [2] * 300 + list(range(100, 100 + 2000))
        n = len(keys)
        heavy = {
            k for k, c in Counter(keys).items() if c > n / SUPPORT_K
        }
        assert heavy == {1, 2}
        splits = {
            "heavy_first": [keys],
            "interleaved": [keys[i::4] for i in range(4)],
            "heavy_last": [sorted(keys, reverse=True)[i::3] for i in range(3)],
        }
        for name, parts in splits.items():
            cands: set[int] = set()
            for part in parts:
                out = list(_mg_partition(iter([pd.DataFrame({"key": part})])))
                assert len(out[0]) <= MG_CAPACITY
                cands |= set(out[0]["key"])
            assert heavy <= cands, name


class TestWelfordStats:
    def test_matches_python_welford_fold(self, spark, sf_dir):
        """Recompute the (n, mean, M2) state with the LITERAL online Welford
        recursion from streaming/stateful.py (not numpy) — certifying that
        the declarative var_samp twin equals the stream's fold math."""
        ev = _events(sf_dir, ["user_id", "value"])
        state: dict[int, tuple[int, float, float]] = {}
        for u, x in zip(ev["user_id"], ev["value"]):
            if u is None or x is None:
                continue
            n, mean, m2 = state.get(u, (0, 0.0, 0.0))
            n += 1
            delta = x - mean
            mean += delta / n
            m2 += delta * (x - mean)
            state[u] = (n, mean, m2)
        rows = registry.QUERIES["q_welford_stats"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            n, mean, m2 = state[r["user_id"]]
            assert r["n"] == n
            assert r["mean"] == pytest.approx(mean, abs=1e-4)
            assert r["m2"] == pytest.approx(m2, rel=1e-6)
            assert r["variance"] == pytest.approx(m2 / (n - 1), rel=1e-6)


class TestCusumAlarm:
    def test_matches_streaming_fold_up_to_first_alarm(self, spark, sf_dir):
        """Run the EXACT cusum_stream recursion (max(0, ...) fold with
        restart, streaming/stateful.py:121-151) in pure Python and check
        the batch twin agrees on the first alarm timestamp and (for
        never-alarmed sensors, where restart never fires) on the max
        excursions too."""
        from real_time_iot_data_engineering_pipeline_spark.queries.stateful_twins import (
            CUSUM_H,
            CUSUM_SLACK,
        )

        slack, h = float(CUSUM_SLACK), float(CUSUM_H)
        ev = _events(sf_dir, ["user_id", "event_id", "ts", "value"])
        series = defaultdict(list)
        vals = []
        for u, e, t, x in zip(
            ev["user_id"], ev["event_id"], ev["ts"], ev["value"]
        ):
            if u is None or t is None or x is None:
                continue
            series[u].append((t, e, x))
            vals.append(x)
        mu0 = math.floor(
            sum(vals) / len(vals) * 1e4 * (1 + 1e-12) + 0.5
        ) / 1e4  # fround(avg, 4), as the query pins mu0
        expect = {}
        for u, hist in series.items():
            hist.sort()
            s_pos = s_neg = 0.0
            mx_p = mx_n = 0.0
            first_alarm = None
            for t, _, x in hist:
                s_pos = max(0.0, s_pos + (x - mu0 - slack))
                s_neg = max(0.0, s_neg + (mu0 - x - slack))
                mx_p, mx_n = max(mx_p, s_pos), max(mx_n, s_neg)
                if first_alarm is None and (s_pos > h or s_neg > h):
                    first_alarm = t
                    # the batch twin has no restart; stop comparing
                    # excursions past this point
                    break
            expect[u] = (first_alarm, mx_p, mx_n)
        rows = registry.QUERIES["q_cusum_alarm"](spark, sf_dir).collect()
        alarmed = {r["user_id"] for r in rows if r["alarmed"]}
        assert alarmed and alarmed != {r["user_id"] for r in rows}, (
            "fixture must exercise both verdicts"
        )
        for r in rows:
            first, mx_p, mx_n = expect[r["user_id"]]
            if first is not None:
                assert r["alarmed"] and r["first_alarm_ts"] == first
            else:
                assert not r["alarmed"] and r["first_alarm_ts"] is None
                assert r["max_s_pos"] == pytest.approx(mx_p, abs=2e-4)
                assert r["max_s_neg"] == pytest.approx(mx_n, abs=2e-4)


class TestBottomkSample:
    def test_equals_python_md5_bottom_k(self, spark, sf_dir):
        ev = _events(sf_dir, ["event_id"])
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
        ev = _events(sf_dir, ["event_id"])
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


class TestManifestOps:
    def test_shingle_profile_matches_python(self, spark, sf_dir):
        import re

        import pyarrow.parquet as pq

        docs = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).to_pydict()
        rows = {
            r["doc_id"]: r
            for r in registry.QUERIES["q_shingle_profile"](
                spark, sf_dir
            ).collect()
        }
        checked = 0
        for d, t in list(zip(docs["doc_id"], docs["text"]))[:50]:
            toks = re.split(r"[ \t\n\r\f\x0b]+", t.strip().lower())
            if len(toks) < 3:
                assert d not in rows
                continue
            grams = Counter(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )
            r = rows[d]
            assert r["n_grams"] == sum(grams.values())
            assert r["n_distinct_grams"] == len(grams)
            assert r["max_gram_freq"] == max(grams.values())
            checked += 1
        assert checked > 10

    def test_token_budget_conserves_and_caps(self, spark, sf_dir):
        rows = registry.QUERIES["q_token_budget_plan"](spark, sf_dir).collect()
        total_avail = sum(r["avail_tokens"] for r in rows)
        total_alloc = sum(r["alloc_tokens"] for r in rows)
        assert any(r["capped"] for r in rows), "premium sources must cap"
        assert not all(r["capped"] for r in rows)
        for r in rows:
            assert r["alloc_tokens"] <= r["avail_tokens"] + 0.01
            assert 0 < r["fill_frac"] <= 1.0
        # one redistribution round must land within a capped-source's worth
        # of the budget (exact only at the fixpoint; assert the bound)
        assert total_alloc <= 0.5 * total_avail + 1.0
        assert total_alloc >= 0.5 * total_avail * 0.95

    def test_band_tuning_scurve_is_monotone(self, spark, sf_dir):
        """More rows per band (fixed K) = stricter collisions = lower
        expected recall — the S-curve family's defining order."""
        rows = sorted(
            registry.QUERIES["q_minhash_band_tuning"](spark, sf_dir).collect(),
            key=lambda r: r["rows_per_band"],
        )
        recalls = [r["expected_recall"] for r in rows]
        assert recalls == sorted(recalls, reverse=True)
        assert all(r["n_pairs"] == rows[0]["n_pairs"] for r in rows)

    def test_dedup_cost_curve_is_monotone(self, spark, sf_dir):
        rows = sorted(
            registry.QUERIES["q_dedup_cost_curve"](spark, sf_dir).collect(),
            key=lambda r: r["threshold"],
        )
        pairs = [r["n_pairs"] for r in rows]
        removed = [r["n_docs_removed"] for r in rows]
        assert pairs == sorted(pairs, reverse=True)
        assert removed == sorted(removed, reverse=True)
        assert pairs[0] > 0


class TestEmbeddingOps:
    def test_label_balance_matches_python(self, spark, sf_dir):
        import pyarrow.parquet as pq

        labels = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["label"]
        ).to_pydict()["label"]
        c = Counter(labels)
        n = len(labels)
        h = -sum((v / n) * math.log(v / n) for v in c.values())
        rows = registry.QUERIES["q_label_balance"](spark, sf_dir).collect()
        assert len(rows) == len(c)
        for r in rows:
            assert r["n"] == c[r["label"]]
            assert r["entropy"] == pytest.approx(h, abs=1e-5)
            assert r["imbalance_ratio"] == pytest.approx(
                max(c.values()) / min(c.values()), abs=1e-5
            )

    def test_centroid_drift_matches_python(self, spark, sf_dir):
        """Full pure-Python recompute of both half-centroids and their
        cosine.  (On this fixture labels are NOT geometric clusters — the
        embeddings are label-independent noise — so the drift score is
        legitimately low/noisy; the operator's job is to measure it, and
        the recompute certifies the measurement, not a cluster shape.)"""
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet",
            columns=["vec_id", "embedding", "label"],
        ).to_pydict()
        sums: dict[tuple[int, int], list[float]] = {}
        counts: Counter = Counter()
        for vid, emb, lab in zip(t["vec_id"], t["embedding"], t["label"]):
            key = (lab, vid % 2)
            acc = sums.setdefault(key, [0.0] * len(emb))
            for i, v in enumerate(emb):
                acc[i] += float(v)
            counts[key] += 1
        rows = registry.QUERIES["q_embed_centroid_drift"](
            spark, sf_dir
        ).collect()
        assert rows
        for r in rows:
            lab = r["label"]
            assert r["n_a"] == counts[(lab, 0)]
            assert r["n_b"] == counts[(lab, 1)]
            ca = [s / counts[(lab, 0)] for s in sums[(lab, 0)]]
            cb = [s / counts[(lab, 1)] for s in sums[(lab, 1)]]
            dot = sum(a * b for a, b in zip(ca, cb))
            na = math.sqrt(sum(a * a for a in ca))
            nb = math.sqrt(sum(b * b for b in cb))
            assert -1.0 <= r["centroid_cos"] <= 1.0
            assert r["centroid_cos"] == pytest.approx(
                dot / (na * nb), abs=1e-5
            )


class TestRound6Plans:
    def test_misra_gries_recount_is_broadcast(self, spark, sf_dir):
        from .test_plans import plan_of

        plan = plan_of(spark, sf_dir, "q_misra_gries")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_band_tuning_joins_on_keys_no_cartesian(self, spark, sf_dir):
        from .test_plans import plan_of

        plan = plan_of(spark, sf_dir, "q_minhash_band_tuning")
        assert "CartesianProduct" not in plan

    def test_bottomk_uses_take_ordered_not_global_sort(self, spark, sf_dir):
        from .test_plans import plan_of

        plan = plan_of(spark, sf_dir, "q_bottomk_sample")
        assert "TakeOrderedAndProject" in plan

    def test_quantile_bins_never_sorts_the_table(self, spark, sf_dir):
        """The whole point: quantiles WITHOUT a global sort.  The only Sort
        allowed is inside the per-(group, q) window over the single target
        bin (post-broadcast-join, data already reduced)."""
        from .test_plans import plan_of

        plan = plan_of(spark, sf_dir, "q_quantile_bins")
        assert "BroadcastHashJoin" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_bloom_probe_is_broadcast(self, spark, sf_dir):
        from .test_plans import plan_of

        plan = plan_of(spark, sf_dir, "q_bloom_membership")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestIntegrityAuditRestructure:
    def test_detects_injected_violations(self, spark, sf_dir, tmp_path):
        """The fixture warehouse is clean (all 17 checks report 0), so the
        violation arithmetic would otherwise never be exercised: corrupt a
        copy of the warehouse (duplicate a nation PK, orphan a customer
        nationkey and a lineitem orderkey) and assert the audit prices
        each injected defect exactly."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        bad = tmp_path / "corrupt"
        bad.mkdir()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings".split()
        ):
            shutil.copy(f"{sf_dir}/{t}.parquet", bad / f"{t}.parquet")
        # duplicate one nation row (pk:nation += 1 violation, n_checked += 1)
        nat = pq.read_table(bad / "nation.parquet")
        nat2 = pa.concat_tables([nat, nat.slice(0, 1)])
        pq.write_table(nat2, bad / "nation.parquet")
        # orphan two customers' nationkey (fk:customer.nationkey = 2)
        cust = pq.read_table(bad / "customer.parquet").to_pydict()
        cust["c_nationkey"][0] = 9999
        cust["c_nationkey"][1] = 9999
        pq.write_table(pa.table(cust), bad / "customer.parquet")
        # orphan three lineitems' orderkey (fk:lineitem.orderkey = 3)
        li = pq.read_table(bad / "lineitem.parquet").to_pydict()
        for i in range(3):
            li["l_orderkey"][i] = 10**12 + i
        pq.write_table(pa.table(li), bad / "lineitem.parquet")

        clean = {
            r["check_name"]: r
            for r in registry.QUERIES["q_integrity_audit"](
                spark, sf_dir
            ).collect()
        }
        rows = {
            r["check_name"]: r
            for r in registry.QUERIES["q_integrity_audit"](
                spark, str(bad)
            ).collect()
        }
        n_nation = nat.num_rows
        assert rows["pk:nation"]["n_checked"] == n_nation + 1
        assert (
            rows["pk:nation"]["n_violations"]
            == clean["pk:nation"]["n_violations"] + 1
        )
        assert (
            rows["fk:customer.nationkey"]["n_violations"]
            == clean["fk:customer.nationkey"]["n_violations"] + 2
        )
        assert (
            rows["fk:lineitem.orderkey"]["n_violations"]
            == clean["fk:lineitem.orderkey"]["n_violations"] + 3
        )
        # moving 3 lineitems to fresh orderkeys can change the (orderkey,
        # linenumber) dup count (the fixture's lineitem PK is NOT unique —
        # the audit exists to report exactly that): recompute it exactly
        pairs = Counter(zip(li["l_orderkey"], li["l_linenumber"]))
        assert rows["pk:lineitem"]["n_violations"] == sum(
            c - 1 for c in pairs.values()
        )
        # everything untouched by the corruption matches the clean audit
        dirty = {
            "pk:nation",
            "fk:customer.nationkey",
            "fk:lineitem.orderkey",
            "pk:lineitem",
        }
        for name, r in rows.items():
            if name not in dirty:
                assert (
                    r["n_violations"] == clean[name]["n_violations"]
                ), name

    def test_single_scan_per_table(self, spark, sf_dir):
        """The restructure's whole point: the exploded entry union is built
        from each table exactly once and materialized by one eager
        localCheckpoint, so all three consumers (per-check stats, orphan
        child side, orphan parent side) read the checkpoint — the plan
        must show no table scan outside it, and the checkpoint job must
        scan each of the 10 table files once (the old shape re-scanned
        lineitem up to 7 times)."""
        import re

        store = spark._jsparkSession.sharedState().statusStore()
        df = registry.QUERIES["q_integrity_audit"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" not in plan
        assert len(re.findall(r"Scan ExistingRDD\[check#\d+,k#\d+,cnt#", plan)) >= 3
        # the checkpoint job is the last SQL execution; its formatted plan
        # lists one Location line per scan node
        n = store.executionsCount()
        built = store.executionsList(n - 1, 1).head().physicalPlanDescription()
        files = re.findall(r"Location: \w+ \[\S*?(\w+)\.parquet\]", built)
        assert len(files) == len(set(files)) == 10, files
