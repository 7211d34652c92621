"""Behavioral-analytics family: sketch-quality twin for heavy hitters and
plan-shape pins (oracle parity for the four registered queries runs in
tests/test_oracle_parity.py).

The count-min twin mirrors the sketches-family contract: the REGISTERED
query is exact (oracle-checkable bit-for-bit); the bounded-memory sketch is
quality-tested against the exact result with the sketch's OWN guarantee —
count-min never under-counts, and over-counts by at most eps * N with
confidence 1 - delta.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.behavior import (
    _HH_MIN_COUNT,
)
from real_time_iot_data_engineering_pipeline_spark.sources import load_table

from .test_plans import plan_of

registry.load_all()

_EPS = 0.005
_CONFIDENCE = 0.99
_SEED = 42


class TestCountMinTwin:
    def test_cms_brackets_exact_heavy_hitters(self, spark, sf_dir):
        """For every exact heavy hitter, the count-min estimate must satisfy
        true <= est <= true + eps * N (the sketch's one-sided error bound).
        At 100 TB the sketch replaces the exact groupBy when the pair
        domain itself is too large to shuffle: fixed O(width x depth)
        memory, mergeable across partitions."""
        ev = load_table(spark, sf_dir, "events").withColumn(
            "pair", F.concat_ws("\x1f", "event_type", "user_id")
        )
        n_total = ev.count()
        # The count_min_sketch AGGREGATE builds the sketch distributed —
        # per-partition sketches merged map-side (the mergeability that
        # makes it the 100 TB path); deserialize driver-side to query it.
        blob = ev.agg(
            F.count_min_sketch(
                "pair", F.lit(_EPS), F.lit(_CONFIDENCE), F.lit(_SEED)
            ).alias("s")
        ).head()["s"]
        jvm = spark._jvm
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            jvm.java.io.ByteArrayInputStream(bytes(blob))
        )
        exact = {
            (r["event_type"], r["user_id"]): r["n"]
            for r in registry.QUERIES["q_heavy_hitters"](spark, sf_dir).collect()
        }
        assert exact, "fixture produced no heavy hitters — threshold too high"
        slack = _EPS * n_total
        for (etype, uid), true_n in exact.items():
            est = cms.estimateCount(f"{etype}\x1f{uid}")
            assert est >= true_n, f"CMS under-counted {etype}/{uid}: {est} < {true_n}"
            assert est <= true_n + slack, (
                f"CMS over-counted beyond eps*N: {est} > {true_n} + {slack}"
            )

    def test_threshold_filters_something(self, spark, sf_dir):
        """The support threshold must actually prune (the query is a HAVING,
        not a full group dump)."""
        ev = load_table(spark, sf_dir, "events")
        all_pairs = ev.groupBy("event_type", "user_id").count().count()
        hh = registry.QUERIES["q_heavy_hitters"](spark, sf_dir).count()
        assert 0 < hh < all_pairs
        assert _HH_MIN_COUNT > 1


class TestBehaviorPlans:
    def test_pivot_is_single_pass(self, spark, sf_dir):
        """Explicit pivot vocabulary => one scan, conditional partial
        aggregates, no join and no separate distinct-values pass."""
        plan = plan_of(spark, sf_dir, "q_pivot_daily")
        assert plan.count("FileScan parquet") == 1
        assert "Join" not in plan
        assert "partial_" in plan or "Partial" in plan

    def test_funnel_joins_are_hash_not_nested_loop(self, spark, sf_dir):
        """Every funnel stage joins on the high-cardinality user key; the
        time ordering must be a residual predicate, never the join itself."""
        plan = plan_of(spark, sf_dir, "q_funnel")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_retention_two_phase_distinct(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_retention")
        assert "CartesianProduct" not in plan
        assert "partial_" in plan or "Partial" in plan


class TestWelchTtest:
    def test_matches_python_recompute(self, spark, sf_dir):
        import statistics

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["event_type", "value"]
        ).to_pydict()
        groups = {"purchase": [], "click": []}
        for t, v in zip(ev["event_type"], ev["value"]):
            if t in groups and v is not None:
                groups[t].append(v)
        a, b = groups["purchase"], groups["click"]
        se2a = statistics.variance(a) / len(a)
        se2b = statistics.variance(b) / len(b)
        t_stat = (statistics.fmean(a) - statistics.fmean(b)) / (
            (se2a + se2b) ** 0.5
        )
        df = (se2a + se2b) ** 2 / (
            se2a**2 / (len(a) - 1) + se2b**2 / (len(b) - 1)
        )
        row = registry.QUERIES["q_welch_ttest"](spark, sf_dir).collect()[0]
        assert row["n_a"] == len(a) and row["n_b"] == len(b)
        assert row["t_stat"] == pytest.approx(t_stat, abs=2e-4)
        assert row["df"] == pytest.approx(df, rel=1e-3)
        assert row["significant"] == (abs(t_stat) > 1.96)


class TestDriftDetectors:
    def test_ks_matches_python_ecdf(self, spark, sf_dir):
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["event_type", "value"]
        ).to_pydict()

        def ks(a, b):
            grid = sorted(set(a) | set(b))
            sa = sorted(a)
            sb = sorted(b)
            import bisect

            return max(
                abs(
                    bisect.bisect_right(sa, v) / len(a)
                    - bisect.bisect_right(sb, v) / len(b)
                )
                for v in grid
            )

        purchase = [
            v
            for t, v in zip(ev["event_type"], ev["value"])
            if t == "purchase" and v is not None
        ]
        view = [
            v
            for t, v in zip(ev["event_type"], ev["value"])
            if t == "view" and v is not None
        ]
        rows = {
            r["cmp"]: r
            for r in registry.QUERIES["q_ks_test"](spark, sf_dir).collect()
        }
        nat = rows["natural"]
        assert nat["d_stat"] == pytest.approx(ks(purchase, view), abs=2e-6)
        crit = 1.358 * ((len(purchase) + len(view)) / (len(purchase) * len(view))) ** 0.5
        assert nat["crit"] == pytest.approx(crit, abs=2e-6)
        assert nat["drift"] == (nat["d_stat"] > nat["crit"])
        pl = rows["planted"]
        assert pl["d_stat"] == pytest.approx(
            ks(purchase, [v * 2.0 for v in purchase]), abs=2e-6
        )
        assert {rows["natural"]["drift"], rows["planted"]["drift"]} == {
            False,
            True,
        }, "both verdicts must be exercised"

    def test_psi_matches_python_recompute(self, spark, sf_dir):
        import math
        from collections import Counter

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet",
            columns=["event_type", "ts", "value"],
        ).to_pandas()
        ev = ev.dropna(subset=["ts", "value"])
        split = __import__("pandas").Timestamp("2024-01-16")
        expect = {}
        for t, grp in ev.groupby("event_type"):
            early = grp["ts"].dt.floor("D") < split
            val = grp["value"].where(
                early,
                grp["value"]
                * (1.5 if t == "error" else 2.5 if t == "signup" else 1.0),
            )
            bins = val.floordiv(50.0).clip(upper=9).astype(int)
            ca = Counter(bins[early])
            cb = Counter(bins[~early])
            na, nb = early.sum(), (~early).sum()
            psi = 0.0
            for b in set(ca) | set(cb):
                p = (ca.get(b, 0) + 1.0) / (na + 10.0)
                q = (cb.get(b, 0) + 1.0) / (nb + 10.0)
                psi += (p - q) * math.log(p / q)
            expect[t] = psi
        rows = registry.QUERIES["q_psi"](spark, sf_dir).collect()
        classes = set()
        for r in rows:
            assert r["psi"] == pytest.approx(expect[r["event_type"]], abs=2e-6)
            classes.add(r["stability"])
        assert classes == {"stable", "moderate", "shifted"}


class TestCorrAndChiSquare:
    def test_corr_matrix_matches_numpy(self, spark, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        tbl = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=cols)
        mat = np.column_stack([tbl.column(c).to_numpy() for c in cols])
        c = np.corrcoef(mat, rowvar=False)
        rows = registry.QUERIES["q_corr_matrix"](spark, sf_dir).collect()
        assert len(rows) == 6
        for r in rows:
            i, j = cols.index(r["col_a"]), cols.index(r["col_b"])
            assert r["pearson"] == pytest.approx(c[i, j], abs=2e-6)

    def test_chi_square_matches_python_recompute(self, spark, sf_dir):
        from collections import Counter

        import pandas as pd
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet",
            columns=["event_id", "ts", "event_type"],
        ).to_pandas().dropna(subset=["ts"])
        split = pd.Timestamp("2024-01-16")
        ev["early"] = ev["ts"].dt.floor("D") < split

        def chi2(frame):
            obs = Counter(zip(frame["event_type"], frame["early"]))
            rows = Counter()
            colt = Counter()
            for (t, e), c in obs.items():
                rows[t] += c
                colt[e] += c
            grand = sum(obs.values())
            return sum(
                (c - rows[t] * colt[e] / grand) ** 2
                / (rows[t] * colt[e] / grand)
                for (t, e), c in obs.items()
            )

        planted = ev[
            ~(
                (ev["event_type"] == "click")
                & ~ev["early"]
                & (ev["event_id"] % 10 < 5)
            )
        ]
        rows = {
            r["cmp"]: r
            for r in registry.QUERIES["q_chi_square"](spark, sf_dir).collect()
        }
        assert rows["natural"]["chi2"] == pytest.approx(chi2(ev), abs=2e-3)
        assert rows["planted"]["chi2"] == pytest.approx(
            chi2(planted), abs=2e-3
        )
        assert not rows["natural"]["dependent"]
        assert rows["planted"]["dependent"]


class TestRevenueGini:
    def test_matches_python_recompute(self, spark, sf_dir):
        from collections import defaultdict

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        od = pq.read_table(
            f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"]
        ).to_pydict()
        rev = defaultdict(float)
        for c, p in zip(od["o_custkey"], od["o_totalprice"]):
            rev[c] += p
        xs = sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(xs)
        tot = sum(v for _, v in xs)
        gini = 2.0 * sum(
            (i + 1) * v for i, (_, v) in enumerate(xs)
        ) / (n * tot) - (n + 1.0) / n
        top_k = -(-n // 10)
        top_share = sum(v for _, v in xs[n - top_k :]) / tot
        row = registry.QUERIES["q_revenue_gini"](spark, sf_dir).collect()[0]
        assert row["n_customers"] == n
        assert row["gini"] == pytest.approx(gini, abs=2e-6)
        assert row["top_decile_share"] == pytest.approx(top_share, abs=2e-6)
        assert 0.0 <= row["gini"] <= 1.0


class TestConversionLatency:
    def test_matches_python_recompute(self, spark, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        ev = pq.read_table(
            f"{sf_dir}/events.parquet",
            columns=["user_id", "ts", "event_type"],
        ).to_pandas().dropna(subset=["ts"])
        by_type = {
            t: grp.groupby("user_id")["ts"]
            for t, grp in ev.groupby("event_type")
        }
        t_view = by_type["view"].min()
        clicks = ev[ev["event_type"] == "click"].merge(
            t_view.rename("t_view"), left_on="user_id", right_index=True
        )
        t_click = (
            clicks[clicks["ts"] > clicks["t_view"]]
            .groupby("user_id")["ts"]
            .min()
        )
        purch = ev[ev["event_type"] == "purchase"].merge(
            t_click.rename("t_click"), left_on="user_id", right_index=True
        )
        t_purch = (
            purch[purch["ts"] > purch["t_click"]]
            .groupby("user_id")["ts"]
            .min()
        )

        def stats(a, b):
            j = a.to_frame("a").join(b.to_frame("b"), how="inner")
            s = (j["b"] - j["a"]).dt.total_seconds().to_numpy()
            return len(s), s.mean(), np.quantile(s, 0.5), np.quantile(s, 0.9)

        expect = {
            "view_to_click": stats(t_view, t_click),
            "click_to_purchase": stats(t_click, t_purch),
            "view_to_purchase": stats(t_view, t_purch),
        }
        rows = {
            r["stage"]: r
            for r in registry.QUERIES["q_conversion_latency"](
                spark, sf_dir
            ).collect()
        }
        assert set(rows) == set(expect)
        for stage, (n, mean, p50, p90) in expect.items():
            r = rows[stage]
            assert r["n_users"] == n
            assert r["mean_s"] == pytest.approx(mean, abs=0.02)
            assert r["p50_s"] == pytest.approx(p50, abs=0.02)
            assert r["p90_s"] == pytest.approx(p90, abs=0.02)
            assert 0 < r["p50_s"] <= r["p90_s"]


class TestBenford:
    def test_matches_python_recompute(self, spark, sf_dir):
        import math
        from collections import Counter

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        prices = pq.read_table(
            f"{sf_dir}/orders.parquet", columns=["o_totalprice"]
        ).column("o_totalprice").to_pylist()
        obs = Counter(
            int(p / 10 ** math.floor(math.log10(p)))
            for p in prices
            if p > 0
        )
        total = sum(obs.values())
        chi2 = sum(
            (obs.get(d, 0) - total * math.log10(1 + 1 / d)) ** 2
            / (total * math.log10(1 + 1 / d))
            for d in range(1, 10)
            if obs.get(d, 0) or True
        )
        rows = registry.QUERIES["q_benford"](spark, sf_dir).collect()
        got_chi2 = 0.0
        for r in rows:
            d = r["first_digit"]
            assert 1 <= d <= 9
            assert r["n"] == obs[d]
            exp = total * math.log10(1 + 1 / d)
            assert r["expected"] == pytest.approx(exp, abs=0.02)
            assert r["chi2_term"] == pytest.approx(
                (obs[d] - exp) ** 2 / exp, abs=0.02
            )
            got_chi2 += r["chi2_term"]
            assert r["deviates"] == (chi2 > 15.507)
        # digits absent from the data (expected>0, n=0) are not emitted;
        # the python chi2 over emitted digits must match their sum
        present_chi2 = sum(
            (obs[d] - total * math.log10(1 + 1 / d)) ** 2
            / (total * math.log10(1 + 1 / d))
            for d in obs
        )
        assert got_chi2 == pytest.approx(present_chi2, abs=0.1)


class TestAbcClasses:
    def test_matches_python_recompute(self, spark, sf_dir):
        from collections import defaultdict

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        li = pq.read_table(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_partkey", "l_extendedprice", "l_discount"],
        ).to_pydict()
        rev = defaultdict(float)
        for k, p, d in zip(
            li["l_partkey"], li["l_extendedprice"], li["l_discount"]
        ):
            rev[k] += p * (1 - d)
        ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(rev.values())
        expect = defaultdict(lambda: [0, 0.0])
        cum = 0.0
        for k, r in ranked:
            cum += r
            share = round(cum / total, 9)
            cls = "A" if share <= 0.8 else "B" if share <= 0.95 else "C"
            expect[cls][0] += 1
            expect[cls][1] += r
        rows = {
            r["abc"]: r
            for r in registry.QUERIES["q_abc_classes"](spark, sf_dir).collect()
        }
        assert set(rows) == set(expect)
        for cls, (n, r_sum) in expect.items():
            assert rows[cls]["n_parts"] == n
            assert rows[cls]["revenue"] == pytest.approx(r_sum, rel=1e-6)
            assert rows[cls]["share"] == pytest.approx(
                r_sum / total, abs=2e-6
            )
        # uniform synthetic revenue has no Pareto concentration (A holds
        # ~78% of parts here) — assert the structural invariants instead
        assert sum(r["n_parts"] for r in rows.values()) == len(rev)
        assert sum(r["share"] for r in rows.values()) == pytest.approx(
            1.0, abs=1e-5
        )


class TestCycleTime:
    def test_matches_python_recompute(self, spark, sf_dir):
        from collections import defaultdict

        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        od = pq.read_table(
            f"{sf_dir}/orders.parquet",
            columns=["o_orderkey", "o_orderdate", "o_orderpriority"],
        ).to_pydict()
        li = pq.read_table(
            f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_shipdate"]
        ).to_pydict()
        last = {}
        for k, d in zip(li["l_orderkey"], li["l_shipdate"]):
            if k not in last or d > last[k]:
                last[k] = d
        per = defaultdict(list)
        for k, od_, pr in zip(
            od["o_orderkey"], od["o_orderdate"], od["o_orderpriority"]
        ):
            if k in last and last[k] >= od_:
                per[pr].append((last[k] - od_).days)
        rows = {
            r["o_orderpriority"]: r
            for r in registry.QUERIES["q_cycle_time"](spark, sf_dir).collect()
        }
        assert set(rows) == set(per)
        for pr, days in per.items():
            a = np.array(days, dtype=float)
            r = rows[pr]
            assert r["n_orders"] == len(a)
            assert r["mean_days"] == pytest.approx(a.mean(), abs=1e-3)
            assert r["p50_days"] == pytest.approx(
                np.quantile(a, 0.5), abs=1e-3
            )
            assert r["p90_days"] == pytest.approx(
                np.quantile(a, 0.9), abs=1e-3
            )
            assert r["max_days"] == int(a.max())


class TestCtrWilson:
    def test_matches_python_recompute(self, spark, sf_dir):
        """Wilson lower bound and top-k membership must match an
        independent scipy-free Python recompute."""
        import math
        import os

        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.behavior import (
            WILSON_TOP_K,
            WILSON_Z,
        )

        ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
        ev = ev[ev["user_id"].notna()]
        stats = {}
        for uid, grp in ev.groupby("user_id"):
            v = int((grp["event_type"] == "view").sum())
            c = int((grp["event_type"] == "click").sum())
            n = v + c
            if n == 0:
                continue
            p = c / n
            z, z2 = WILSON_Z, WILSON_Z * WILSON_Z
            lb = (p + z2 / (2 * n) - z * math.sqrt((p * (1 - p) + z2 / (4 * n)) / n)) / (
                1 + z2 / n
            )
            s = 10.0**6
            lb = math.floor(lb * s * (1.0 + 1e-12) + 0.5) / s
            stats[uid] = (v, c, n, lb)
        expect = sorted(stats.items(), key=lambda kv: (-kv[1][3], kv[0]))[
            :WILSON_TOP_K
        ]
        rows = registry.QUERIES["q_ctr_wilson"](spark, sf_dir).collect()
        assert len(rows) == len(expect)
        for r, (uid, (v, c, n, lb)) in zip(rows, expect):
            assert r.user_id == uid
            assert (r.n_views, r.n_clicks, r.n_trials) == (v, c, n)
            assert abs(r.wilson_lb - lb) < 1e-12
            assert r.wilson_lb <= r.click_share + 1e-12  # LB never exceeds the MLE
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))


class TestActiveUsers:
    def test_matches_pandas_recompute(self, spark, sf_dir):
        import os
        from collections import defaultdict

        import pandas as pd

        ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
        ev = ev[ev["user_id"].notna() & ev["ts"].notna()]
        ud = set(
            zip(ev["user_id"], pd.to_datetime(ev["ts"]).dt.normalize())
        )
        days = sorted({d for _, d in ud})
        by_day = defaultdict(set)
        for u, d in ud:
            by_day[d].add(u)
        rows = registry.QUERIES["q_active_users"](spark, sf_dir).collect()
        assert len(rows) == len(days)
        for r in rows:
            d = pd.Timestamp(r.day)
            dau = len(by_day[d])
            wau = len(
                set().union(
                    *(by_day[x] for x in days if 0 <= (d - x).days < 7)
                )
            )
            mau = len(
                set().union(
                    *(by_day[x] for x in days if 0 <= (d - x).days < 30)
                )
            )
            assert (r.dau, r.wau, r.mau) == (dau, wau, mau), d
            assert dau <= wau <= mau  # nesting invariant
            assert abs(r.stickiness - round(dau / mau, 4)) < 1e-9


class TestActiveUsersHllTwin:
    def test_approx_twin_within_hll_error(self, spark, sf_dir):
        """The docstring's scale story ('swap countDistinct for HLL at
        extreme scale without changing the plan shape') must actually
        hold: the approx_count_distinct twin of the DAU aggregate stays
        within the sketch's relative-error envelope of the exact counts."""
        from real_time_iot_data_engineering_pipeline_spark.sources import (
            load_table,
        )

        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
            .select("user_id", F.date_trunc("day", "ts").alias("day"))
        )
        rsd = 0.02
        approx = {
            r.day: r.dau_approx
            for r in ev.groupBy("day")
            .agg(
                F.approx_count_distinct("user_id", rsd).alias("dau_approx")
            )
            .collect()
        }
        exact = {
            r.day: r.dau
            for r in registry.QUERIES["q_active_users"](spark, sf_dir).collect()
        }
        assert set(approx) == set(exact)
        for day, n in exact.items():
            assert abs(approx[day] - n) <= max(3, 5 * rsd * n), day


class TestMixShift:
    def test_matches_scipy_free_recompute(self, spark, sf_dir):
        import os

        import pandas as pd

        o = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
        o["month"] = (
            pd.to_datetime(o["o_orderdate"]).dt.to_period("M").dt.start_time
        )
        cell = o.groupby(["month", "o_orderpriority"]).size()
        overall = o.groupby("o_orderpriority").size()
        total = len(o)
        rows = {
            pd.Timestamp(r.month): r
            for r in registry.QUERIES["q_mix_shift"](spark, sf_dir).collect()
        }
        assert set(rows) == set(cell.index.get_level_values(0).unique())
        for m, grp in cell.groupby(level=0):
            month_total = grp.sum()
            chi2 = 0.0
            for (_, prio), n in grp.items():
                exp = month_total * overall[prio] / total
                chi2 += (n - exp) ** 2 / exp
            r = rows[pd.Timestamp(m)]
            assert r.n_orders == month_total
            assert r.chi2 == pytest.approx(chi2, rel=1e-4)
            assert r.dof == len(grp) - 1
            assert r.chi2 >= 0
