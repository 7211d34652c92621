"""Mining tier: independent golden recomputes (pandas/numpy implementations
of each statistic, exercising none of the Spark/DuckDB SQL machinery) plus
plan-shape pins.  Oracle parity for all eight registered queries runs in
tests/test_oracle_parity.py; these tests certify the STATISTICS are the
textbook ones, not merely that two SQL engines agree on the same algebra.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.mining import (
    BASKET_MIN_PAIR,
    BOLLINGER_DAYS,
    BOLLINGER_SIGMA,
    KM_CHURN_GAP_DAYS,
    _DAY_ANCHOR,
)

from .test_plans import plan_of

registry.load_all()


def _fround(x: float, n: int = 4) -> float:
    """Python twin of functions/rounding.fround."""
    s = 10.0**n
    return math.floor(x * s * (1.0 + 1e-12) + 0.5) / s


def _events(sf_dir: str) -> pd.DataFrame:
    df = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    return df[df["ts"].notna()]


def _orders(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))


def _daily_rev(sf_dir: str) -> pd.DataFrame:
    o = _orders(sf_dir)
    anchor = pd.Timestamp(_DAY_ANCHOR)
    day = o["o_orderdate"].dt.normalize()
    g = o.groupby(day)["o_totalprice"].sum().sort_index()
    return pd.DataFrame(
        {
            "x": [(d - anchor).days for d in g.index],
            "y": [_fround(v, 2) for v in g.to_numpy()],
        }
    )


class TestKaplanMeierGolden:
    def test_life_table_matches_python(self, spark, sf_dir):
        ev = _events(sf_dir)
        per_user = ev.groupby("user_id")["ts"].agg(["min", "max"])
        end = ev["ts"].dt.normalize().max()
        dur = (
            per_user["max"].dt.normalize() - per_user["min"].dt.normalize()
        ).dt.days
        died = (
            end - per_user["max"].dt.normalize()
        ).dt.days > KM_CHURN_GAP_DAYS
        total = len(per_user)
        # Classic product-limit recursion, row by ascending duration.
        table = {}
        surv, at_risk = 1.0, total
        for d in sorted(dur.unique()):
            deaths = int(((dur == d) & died).sum())
            cens = int(((dur == d) & ~died).sum())
            surv *= 1.0 - deaths / at_risk if at_risk else 0.0
            table[int(d)] = (at_risk, deaths, cens, surv)
            at_risk -= deaths + cens

        rows = registry.QUERIES["q_kaplan_meier"](spark, sf_dir).collect()
        assert {r["duration_day"] for r in rows} == set(table)
        prev = 1.0
        for r in rows:
            n_risk, deaths, cens, surv = table[r["duration_day"]]
            assert r["n_risk"] == n_risk
            assert r["n_deaths"] == deaths
            assert r["n_censored"] == cens
            assert r["survival"] == pytest.approx(surv, abs=1e-5)
            # Survival is a non-increasing probability.
            assert 0.0 <= r["survival"] <= prev + 1e-12
            prev = r["survival"]


class TestRfmGolden:
    def test_segment_counts_match_python(self, spark, sf_dir):
        o = _orders(sf_dir)
        end = o["o_orderdate"].dt.normalize().max()
        g = o.groupby("o_custkey").agg(
            last=("o_orderdate", "max"),
            frequency=("o_orderkey", "size"),
            monetary=("o_totalprice", "sum"),
        )
        g["recency"] = (end - g["last"].dt.normalize()).dt.days
        g["monetary"] = [_fround(v, 2) for v in g["monetary"]]

        def scores(col, reverse):
            qs = np.quantile(g[col].to_numpy(float), [0.2, 0.4, 0.6, 0.8])
            hits = sum((g[col].to_numpy(float) > q).astype(int) for q in qs)
            return (5 - hits) if reverse else (1 + hits)

        r, f, m = (
            scores("recency", True),
            scores("frequency", False),
            scores("monetary", False),
        )
        seg = np.select(
            [
                (r >= 4) & (f >= 4) & (m >= 4),
                f >= 4,
                m >= 4,
                (r <= 2) & (f >= 3),
                r <= 2,
            ],
            ["champion", "loyal", "big_spender", "at_risk", "hibernating"],
            default="regular",
        )
        expect = pd.Series(seg).value_counts().to_dict()
        rows = registry.QUERIES["q_rfm_segments"](spark, sf_dir).collect()
        got = {row["segment"]: row["n_customers"] for row in rows}
        assert got == expect
        assert sum(got.values()) == len(g)


class TestMarketBasketGolden:
    def test_lift_arithmetic_and_python_counts(self, spark, sf_dir):
        rows = registry.QUERIES["q_market_basket"](spark, sf_dir).collect()
        assert rows, "no brand pair reached the support threshold"
        li = pd.read_parquet(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_partkey"],
        )
        pt = pd.read_parquet(
            os.path.join(sf_dir, "part.parquet"),
            columns=["p_partkey", "p_brand"],
        )
        items = li.merge(
            pt, left_on="l_partkey", right_on="p_partkey"
        )[["l_orderkey", "p_brand"]].drop_duplicates()
        n_orders = items["l_orderkey"].nunique()
        brand_n = items["p_brand"].value_counts()
        pair_n = (
            items.merge(items, on="l_orderkey")
            .query("p_brand_x < p_brand_y")
            .groupby(["p_brand_x", "p_brand_y"])
            .size()
        )
        for r in rows:
            assert r["n_ab"] >= BASKET_MIN_PAIR
            assert r["n_ab"] == pair_n[(r["brand_a"], r["brand_b"])]
            assert r["n_a"] == brand_n[r["brand_a"]]
            assert r["n_b"] == brand_n[r["brand_b"]]
            assert r["n_orders"] == n_orders
            lift = (r["n_ab"] * n_orders) / (r["n_a"] * r["n_b"])
            assert r["lift"] == pytest.approx(lift, abs=1e-3)
            assert 0 < r["support"] <= r["confidence"] <= 1

    def test_ranked_by_lift(self, spark, sf_dir):
        rows = registry.QUERIES["q_market_basket"](spark, sf_dir).collect()
        lifts = [r["lift"] for r in rows]
        assert lifts == sorted(lifts, reverse=True)


class TestMannWhitneyGolden:
    def test_u_and_z_match_pandas_rank(self, spark, sf_dir):
        ev = _events(sf_dir)
        ev = ev[ev["value"].notna() & ev["event_type"].isin(["click", "view"])]
        qv = np.floor(ev["value"].to_numpy(float))
        is_a = (ev["event_type"] == "click").to_numpy()
        # Independent ranking machinery: pandas average-rank, not the
        # engine's per-bin cumulative midranks.
        ranks = pd.Series(qv).rank(method="average").to_numpy()
        n1, n2 = int(is_a.sum()), int((~is_a).sum())
        r1 = float(ranks[is_a].sum())
        u1 = r1 - n1 * (n1 + 1) / 2.0
        n = n1 + n2
        _, t = np.unique(qv, return_counts=True)
        tie = float((t.astype(float) ** 3 - t).sum())
        var = n1 * n2 / 12.0 * ((n + 1) - tie / (n * (n - 1)))
        z = (u1 - n1 * n2 / 2.0) / math.sqrt(var)

        row = registry.QUERIES["q_mann_whitney"](spark, sf_dir).head()
        assert row["n_a"] == n1 and row["n_b"] == n2
        assert row["u_stat"] == pytest.approx(u1, abs=1e-6)
        assert row["z"] == pytest.approx(z, abs=1e-5)
        assert row["significant"] == (abs(z) > 1.96)


class TestTrendGolden:
    def test_theil_sen_matches_numpy(self, spark, sf_dir):
        d = _daily_rev(sf_dir)
        x = d["x"].to_numpy(float)
        y = d["y"].to_numpy(float)
        dx = np.subtract.outer(x, x)
        dy = np.subtract.outer(y, y)
        iu = np.triu_indices(len(x), k=1)
        slopes = dy[iu] / dx[iu]
        b = float(np.median(slopes))
        a = float(np.median(y - b * x))
        # outer(y, y)[i, j] = y_i - y_j with i < j, i.e. the NEGATED
        # pairwise increment — slopes are unaffected (dx flips too).
        s = -int(np.sign(dy[iu]).sum())

        row = registry.QUERIES["q_theil_sen"](spark, sf_dir).head()
        assert row["n_days"] == len(x)
        assert row["sen_slope"] == pytest.approx(b, abs=1e-5)
        assert row["sen_intercept"] == pytest.approx(a, abs=1e-3)
        assert row["mk_s"] == s
        assert row["trend"] in ("increasing", "decreasing", "none")

    def test_durbin_watson_matches_numpy(self, spark, sf_dir):
        d = _daily_rev(sf_dir)
        x = d["x"].to_numpy(float)
        y = d["y"].to_numpy(float)
        b, a = np.polyfit(x, y, 1)
        e = y - (a + b * x)
        dw = float(np.sum(np.diff(e) ** 2) / np.sum(e**2))
        row = registry.QUERIES["q_durbin_watson"](spark, sf_dir).head()
        assert row["n_days"] == len(x)
        assert row["ols_slope"] == pytest.approx(float(b), abs=1e-4)
        assert row["dw_stat"] == pytest.approx(dw, abs=1e-3)
        # A white-noise-ish synthetic daily series must not trip the
        # negative-autocorrelation band spuriously beyond the rule bands.
        assert row["autocorrelation"] in ("positive", "negative", "none")


class TestBollingerGolden:
    def test_breakout_set_matches_pandas_rolling(self, spark, sf_dir):
        o = _orders(sf_dir)
        anchor = pd.Timestamp(_DAY_ANCHOR)
        o = o.assign(
            priority=o["o_orderpriority"],
            x=(o["o_orderdate"].dt.normalize() - anchor).dt.days,
        )
        expect = set()
        for prio, grp in o.groupby("priority"):
            g = grp.groupby("x")["o_totalprice"].sum().sort_index()
            y = pd.Series([_fround(v, 2) for v in g], index=g.index)
            mid = y.rolling(BOLLINGER_DAYS).mean()
            sd = y.rolling(BOLLINGER_DAYS).std(ddof=1)
            q4 = lambda v: _fround(v, 4) if pd.notna(v) else np.nan
            up = (mid + BOLLINGER_SIGMA * sd).map(q4)
            lo = (mid - BOLLINGER_SIGMA * sd).map(q4)
            mask = ((y > up) | (y < lo)) & mid.notna()
            expect |= {(prio, int(i)) for i in y.index[mask]}

        rows = registry.QUERIES["q_bollinger"](spark, sf_dir).collect()
        got = {(r["priority"], r["day_index"]) for r in rows}
        assert got == expect
        for r in rows:
            assert r["lower"] <= r["mid"] <= r["upper"]
            outside = r["revenue"] > r["upper"] or r["revenue"] < r["lower"]
            assert outside
            assert (r["breakout"] == "above") == (r["revenue"] > r["upper"])


class TestBurstinessGolden:
    def test_coefficients_match_pandas(self, spark, sf_dir):
        ev = _events(sf_dir).sort_values(["user_id", "event_type", "ts", "event_id"])
        gaps = (
            ev.groupby(["user_id", "event_type"])["ts"]
            .diff()
            .dt.total_seconds()
            .mul(1e6)
        )
        ev = ev.assign(gap=gaps)
        rows = registry.QUERIES["q_burstiness"](spark, sf_dir).collect()
        assert len(rows) == ev["event_type"].nunique()
        for r in rows:
            g = ev[ev["event_type"] == r["event_type"]]["gap"].dropna()
            mu, sd = float(g.mean()), float(g.std(ddof=1))
            assert r["n_gaps"] == len(g)
            assert r["mean_gap_s"] == pytest.approx(mu / 1e6, abs=0.05)
            assert r["burstiness"] == pytest.approx(
                (sd - mu) / (sd + mu), abs=1e-4
            )
            assert -1.0 < r["burstiness"] < 1.0
            daily = (
                ev[ev["event_type"] == r["event_type"]]
                .groupby(ev["ts"].dt.normalize())
                .size()
            )
            fano = float(daily.var(ddof=1) / daily.mean())
            assert r["fano_daily"] == pytest.approx(fano, abs=1e-2)
            assert r["fano_daily"] > 0


class TestDistMedian:
    """_dist_median must reproduce quantile_cont/np.median exactly on every
    shape: odd/even counts, heavy ties, constant (zero-width) columns."""

    @pytest.mark.parametrize(
        "values",
        [
            [3.0, 1.0, 2.0],  # odd
            [4.0, 1.0, 3.0, 2.0],  # even -> interpolate
            [1.0, 1.0, 1.0, 5.0],  # ties at the median bracket
            [2.5] * 7,  # constant column (zero bucket width)
            [float(v) for v in range(1000, 0, -1)],  # larger even
        ],
    )
    def test_matches_numpy(self, spark, values):
        from real_time_iot_data_engineering_pipeline_spark.queries.mining import (
            _dist_median,
        )

        df = spark.createDataFrame([(v,) for v in values], ["v"])
        got = _dist_median(df, "v", "m").head()["m"]
        assert got == pytest.approx(float(np.median(values)), abs=1e-12)


class TestMiningPlans:
    def test_market_basket_broadcasts_dim_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_market_basket")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_burstiness_window_partitions_by_user(self, spark, sf_dir):
        """The gap window must partition by the high-cardinality user key —
        a type-only partition would be 5 straggler tasks at scale."""
        plan = plan_of(spark, sf_dir, "q_burstiness")
        assert "windowspecdefinition(user_id" in plan

    def test_no_python_row_udfs(self, spark, sf_dir):
        for name in (
            "q_kaplan_meier",
            "q_rfm_segments",
            "q_market_basket",
            "q_mann_whitney",
            "q_theil_sen",
            "q_durbin_watson",
            "q_bollinger",
            "q_burstiness",
        ):
            plan = plan_of(spark, sf_dir, name)
            assert "BatchEvalPython" not in plan
            assert "ArrowEvalPython" not in plan


class TestAlsoBought:
    def test_matches_pandas_recompute(self, spark, sf_dir):
        """Top-k per part must match an independent pandas co-occurrence
        recompute with the same cosine ranking and tiebreak."""
        import os
        from collections import Counter, defaultdict
        from itertools import combinations

        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.mining import (
            ALSO_MIN_CO,
            ALSO_TOP_K,
        )

        li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))
        baskets = li.groupby("l_orderkey")["l_partkey"].apply(
            lambda s: sorted(set(s))
        )
        n_part: Counter = Counter()
        n_pair: Counter = Counter()
        for parts in baskets:
            n_part.update(parts)
            n_pair.update(combinations(parts, 2))
        recs = defaultdict(list)
        for (a, b), c in n_pair.items():
            if c >= ALSO_MIN_CO:
                recs[a].append((b, c))
                recs[b].append((a, c))
        expect = {}
        for p, cands in recs.items():
            ranked = sorted(
                cands,
                key=lambda rc: (
                    -(rc[1] * rc[1] / (n_part[p] * n_part[rc[0]])),
                    rc[0],
                ),
            )[:ALSO_TOP_K]
            expect[p] = [r for r, _ in ranked]
        got = defaultdict(list)
        rows = registry.QUERIES["q_also_bought"](spark, sf_dir).collect()
        for r in rows:
            got[r.part_id].append(r.rec_part_id)
            assert r.n_a == n_part[r.part_id]
            assert r.n_b == n_part[r.rec_part_id]
            key = tuple(sorted((r.part_id, r.rec_part_id)))
            assert r.n_ab == n_pair[key]
        assert dict(got) == expect


class TestHillTail:
    def test_matches_numpy_recompute(self, spark, sf_dir):
        import math
        import os

        import numpy as np
        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.mining import (
            HILL_K,
        )

        x = np.sort(
            pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))[
                "o_totalprice"
            ].to_numpy()
        )[::-1][:HILL_K]
        alpha = (HILL_K - 1) / (np.log(x).sum() - HILL_K * math.log(x[-1]))
        row = registry.QUERIES["q_hill_tail"](spark, sf_dir).head()
        assert row.k == HILL_K
        assert abs(row.x_k - round(x[-1], 2)) < 1e-6
        assert abs(row.hill_alpha - alpha) < 1e-4
        assert abs(row.hill_alpha * row.tail_index_inv - 1.0) < 1e-4


class TestMarketConcentration:
    def test_matches_pandas_recompute(self, spark, sf_dir):
        import math
        import os

        import pandas as pd

        li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))
        su = pd.read_parquet(os.path.join(sf_dir, "supplier.parquet"))
        na = pd.read_parquet(os.path.join(sf_dir, "nation.parquet"))
        li = li.merge(su[["s_suppkey", "s_nationkey"]], left_on="l_suppkey", right_on="s_suppkey")
        li["rev"] = li["l_extendedprice"] * (1 - li["l_discount"])
        def fr(x, n):
            s = 10.0**n
            return math.floor(x * s * (1.0 + 1e-12) + 0.5) / s
        rows = {
            r.nation: r
            for r in registry.QUERIES["q_market_concentration"](
                spark, sf_dir
            ).collect()
        }
        names = dict(zip(na["n_nationkey"], na["n_name"]))
        for nk, grp in li.groupby("s_nationkey"):
            revs = sorted(
                (fr(v, 4), k)
                for k, v in grp.groupby("l_suppkey")["rev"].sum().items()
            )
            total = sum(v for v, _ in revs)
            hhi = fr(1e4 * sum(v * v for v, _ in revs) / total**2, 2)
            cr4 = fr(sum(v for v, _ in sorted(revs, key=lambda t: (-t[0], t[1]))[:4]) / total, 4)
            r = rows[names[nk]]
            assert r.n_suppliers == len(revs)
            assert abs(r.hhi - hhi) < 0.02  # sum-order tolerance at 2dp
            assert abs(r.cr4 - cr4) < 2e-4
            assert 1e4 / len(revs) - 1 <= r.hhi <= 1e4 + 1  # HHI bounds
            assert r.cr4 <= 1.0 + 1e-9


class TestIntegrityAudit:
    def test_matches_pandas_recompute(self, spark, sf_dir):
        """All 17 checks must agree with a pandas recompute.  Notably the
        audit genuinely catches that the synthetic generator does NOT
        make (l_orderkey, l_linenumber) unique — a real violation, which
        is exactly what an integrity sweep is for."""
        import os

        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.relational import (
            _FK_CHECKS,
            _PK_CHECKS,
        )

        tables = {
            t: pd.read_parquet(os.path.join(sf_dir, f"{t}.parquet"))
            for t in (
                "region nation customer supplier part orders lineitem "
                "events documents embeddings"
            ).split()
        }
        rows = {
            r.check_name: r
            for r in registry.QUERIES["q_integrity_audit"](spark, sf_dir).collect()
        }
        assert len(rows) == len(_PK_CHECKS) + len(_FK_CHECKS)
        for name, table, cols in _PK_CHECKS:
            df = tables[table]
            r = rows[name]
            assert r.n_checked == len(df)
            assert r.n_violations == len(df) - len(df[list(cols)].drop_duplicates())
        for name, child, ck, parent, pk in _FK_CHECKS:
            c = tables[child][ck].dropna()
            r = rows[name]
            assert r.n_checked == len(c)
            assert r.n_violations == (~c.isin(set(tables[parent][pk]))).sum()
        # the fixture's known wart is detected; everything else is clean
        assert rows["pk:lineitem"].n_violations > 0
        assert all(
            r.n_violations == 0 for n, r in rows.items() if n != "pk:lineitem"
        )


class TestWeekdayAnova:
    def test_matches_scipy_free_recompute(self, spark, sf_dir):
        import os
        from collections import defaultdict

        import pandas as pd

        o = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
        daily = (
            o.assign(day=pd.to_datetime(o["o_orderdate"]).dt.normalize())
            .groupby("day")["o_totalprice"]
            .sum()
        )
        groups = defaultdict(list)
        for day, rev in daily.items():
            groups[day.dayofweek].append(rev)
        n = sum(len(v) for v in groups.values())
        g = len(groups)
        grand = sum(sum(v) for v in groups.values()) / n
        ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in groups.values())
        ssw = sum(
            sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
        )
        f = (ssb / (g - 1)) / (ssw / (n - g))
        row = registry.QUERIES["q_weekday_anova"](spark, sf_dir).head()
        assert (row.n_days, row.n_groups) == (n, g)
        assert row.f_stat == pytest.approx(f, rel=1e-3)
        assert row.eta_sq == pytest.approx(ssb / (ssb + ssw), abs=1e-3)
        assert abs(row.ss_between - ssb) <= 1e4
        assert abs(row.ss_within - ssw) <= 1e4


class TestRevenueMotifs:
    def test_matches_python_recompute(self, spark, sf_dir):
        import math
        import os
        from collections import Counter

        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.mining import (
            MOTIF_UP,
        )

        o = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
        daily = (
            o.assign(day=pd.to_datetime(o["o_orderdate"]).dt.normalize())
            .groupby("day")["o_totalprice"]
            .sum()
            .sort_index()
        )
        s = 10.0**4
        revs = [math.floor(v * s * (1.0 + 1e-12) + 0.5) / s for v in daily]
        syms = []
        for prev, cur in zip(revs, revs[1:]):
            if cur > MOTIF_UP * prev:
                syms.append("U")
            elif MOTIF_UP * cur < prev:
                syms.append("D")
            else:
                syms.append("S")
        expect = Counter(
            "".join(syms[i : i + 3]) for i in range(len(syms) - 2)
        )
        rows = registry.QUERIES["q_revenue_motifs"](spark, sf_dir).collect()
        assert {r.motif: r.n for r in rows} == dict(expect)
        total = sum(expect.values())
        for r in rows:
            assert r.n_motifs == total
            assert abs(r.share - round(r.n / total, 4)) < 1e-9
        counts = [r.n for r in rows]
        assert counts == sorted(counts, reverse=True)


class TestPriceIndex:
    def test_matches_pandas_recompute(self, spark, sf_dir):
        import os

        import pandas as pd

        li = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet"))
        o = pd.read_parquet(os.path.join(sf_dir, "orders.parquet"))
        li = li.merge(
            o[["o_orderkey", "o_orderdate"]],
            left_on="l_orderkey",
            right_on="o_orderkey",
        )
        li["month"] = (
            pd.to_datetime(li["o_orderdate"]).dt.to_period("M").dt.start_time
        )
        monthly = li.groupby(["month", "l_partkey"]).agg(
            qty=("l_quantity", "sum"), ext=("l_extendedprice", "sum")
        )
        monthly["p"] = monthly["ext"] / monthly["qty"]
        m0 = monthly.index.get_level_values(0).min()
        base = monthly.loc[m0][["qty", "p"]].rename(
            columns={"qty": "q0", "p": "p0"}
        )
        rows = {
            pd.Timestamp(r.month): r
            for r in registry.QUERIES["q_price_index"](spark, sf_dir).collect()
        }
        months = monthly.index.get_level_values(0).unique()
        assert set(rows) == set(months)
        for m in months:
            cur = monthly.loc[m].join(base, how="inner")
            idx = 100 * (cur["p"] * cur["q0"]).sum() / (cur["p0"] * cur["q0"]).sum()
            r = rows[pd.Timestamp(m)]
            assert r.n_parts == len(cur)
            assert r.laspeyres == pytest.approx(idx, rel=1e-4)
        # the base month indexes to exactly 100
        assert rows[pd.Timestamp(m0)].laspeyres == pytest.approx(100.0, abs=1e-6)
