"""Round-4 composition queries (lang-ID confusion, tokenizer fertility,
link prediction, embedding outliers): independent pandas/numpy golden
recomputes plus plan pins.  Oracle parity runs in test_oracle_parity.py.
"""

from __future__ import annotations

import math
import os
import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.linkage import (
    EDGE_TOP_FRAC,
    LINKPRED_TOP_K,
)
from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
    OUTLIER_Z,
)
from real_time_iot_data_engineering_pipeline_spark.queries.text import _MARKERS

from .test_plans import plan_of

registry.load_all()


def _fround(x: float, n: int) -> float:
    s = 10.0**n
    return math.floor(x * s * (1.0 + 1e-12) + 0.5) / s


class TestLangConfusionGolden:
    def test_matrix_matches_python(self, spark, sf_dir):
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        order = list(_MARKERS)  # tie-break priority: en > de > fr > es
        cells: Counter = Counter()
        for lang, text in zip(docs["lang"], docs["text"]):
            words = re.split(r"\s+", text.strip().lower())
            scores = {
                lg: sum(w in _MARKERS[lg] for w in words) for lg in order
            }
            best = max(order, key=lambda lg: (scores[lg], -order.index(lg)))
            cells[(lang, best)] += 1
        rows = registry.QUERIES["q_lang_confusion"](spark, sf_dir).collect()
        got = {(r["labeled_lang"], r["detected_lang"]): r["n"] for r in rows}
        assert got == dict(cells)
        for r in rows:
            total = sum(
                n for (lab, _), n in cells.items() if lab == r["labeled_lang"]
            )
            assert r["n_labeled"] == total
            assert r["recall"] == pytest.approx(r["n"] / total, abs=1e-5)


class TestFertilityGolden:
    def test_counts_match_python(self, spark, sf_dir):
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        docs = docs[docs["text"].notna()]
        bpe_re = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")
        agg = defaultdict(lambda: [0, 0, 0])  # docs, ws, bpe
        fert = defaultdict(list)
        for src, text in zip(docs["source"], docs["text"]):
            ws = len(re.split(r"\s+", text.strip()))
            bpe = len(bpe_re.findall(text))
            agg[src][0] += 1
            agg[src][1] += ws
            agg[src][2] += bpe
            fert[src].append(bpe / ws)
        rows = registry.QUERIES["q_tokenizer_fertility"](
            spark, sf_dir
        ).collect()
        assert {r["source"] for r in rows} == set(agg)
        for r in rows:
            n, ws, bpe = agg[r["source"]]
            assert (r["n_docs"], r["ws_tokens"], r["bpe_tokens"]) == (
                n,
                ws,
                bpe,
            )
            assert r["corpus_fertility"] == pytest.approx(bpe / ws, abs=1e-5)
            assert r["mean_doc_fertility"] == pytest.approx(
                sum(fert[r["source"]]) / n, abs=1e-5
            )
            # BPE-ish pre-tokens can only split whitespace words further.
            assert r["corpus_fertility"] >= 1.0


class TestLinkPredictionGolden:
    def _edges(self, sf_dir):
        li = pd.read_parquet(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_suppkey"],
        )
        m = li.merge(li, on="l_orderkey")
        m = m[m["l_suppkey_x"] < m["l_suppkey_y"]]
        w = m.groupby(["l_suppkey_x", "l_suppkey_y"]).size().reset_index(
            name="w"
        )
        w = w.sort_values(
            ["w", "l_suppkey_x", "l_suppkey_y"],
            ascending=[False, True, True],
        ).reset_index(drop=True)
        # percent_rank over (w desc, u, v)
        n = len(w)
        keep = w[(w.index / (n - 1)) <= EDGE_TOP_FRAC] if n > 1 else w
        return {
            (int(u), int(v))
            for u, v in zip(keep["l_suppkey_x"], keep["l_suppkey_y"])
        }

    def test_scores_match_python(self, spark, sf_dir):
        edges = self._edges(sf_dir)
        adj = defaultdict(set)
        for u, v in edges:
            adj[u].add(v)
            adj[v].add(u)
        scores = {}
        for z, nbs in adj.items():
            d = len(nbs)
            for u in nbs:
                for v in nbs:
                    if u < v and (u, v) not in edges:
                        cn, aa = scores.get((u, v), (0, 0.0))
                        scores[(u, v)] = (cn + 1, aa + 1.0 / math.log(d))
        expect = sorted(
            scores.items(),
            key=lambda kv: (-_fround(kv[1][1], 9), kv[0][0], kv[0][1]),
        )[:LINKPRED_TOP_K]
        rows = registry.QUERIES["q_link_prediction"](spark, sf_dir).collect()
        assert len(rows) == min(LINKPRED_TOP_K, len(scores))
        for r, ((u, v), (cn, aa)) in zip(rows, expect):
            assert (r["u"], r["v"]) == (u, v)
            assert r["common_neighbors"] == cn
            assert r["adamic_adar"] == pytest.approx(aa, abs=1e-5)


class TestEmbedOutliersGolden:
    def test_outlier_set_matches_numpy(self, spark, sf_dir):
        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        labels = emb["label"].to_numpy()
        expect = {}
        for lab in np.unique(labels):
            mask = labels == lab
            sub = vecs[mask]
            cent = sub.mean(axis=0)
            cos = (sub @ cent) / (
                np.linalg.norm(sub, axis=1) * np.linalg.norm(cent)
            )
            z = (cos - cos.mean()) / cos.std(ddof=1)
            ids = emb["vec_id"].to_numpy()[mask]
            for vid, zz, cc in zip(ids, z, cos):
                if abs(_fround(float(zz), 6)) > OUTLIER_Z:
                    expect[int(vid)] = (float(cc), float(zz))
        rows = registry.QUERIES["q_embed_outliers"](spark, sf_dir).collect()
        assert {r["vec_id"] for r in rows} == set(expect)
        for r in rows:
            cc, zz = expect[r["vec_id"]]
            assert r["cos_to_centroid"] == pytest.approx(cc, abs=1e-5)
            assert r["z"] == pytest.approx(zz, abs=1e-5)


class TestElasticityGolden:
    def test_slopes_match_numpy(self, spark, sf_dir):
        li = pd.read_parquet(
            os.path.join(sf_dir, "lineitem.parquet"),
            columns=["l_partkey", "l_quantity", "l_discount"],
        )
        pt = pd.read_parquet(
            os.path.join(sf_dir, "part.parquet"),
            columns=["p_partkey", "p_brand"],
        )
        obs = li[li["l_quantity"] > 0].merge(
            pt, left_on="l_partkey", right_on="p_partkey"
        )
        rows = registry.QUERIES["q_price_elasticity"](spark, sf_dir).collect()
        assert len(rows) == obs["p_brand"].nunique()
        for r in rows[:5]:
            g = obs[obs["p_brand"] == r["p_brand"]]
            x = g["l_discount"].to_numpy(float)
            y = np.log(g["l_quantity"].to_numpy(float))
            slope, _ = np.polyfit(x, y, 1)
            assert r["n"] == len(g)
            assert r["elasticity"] == pytest.approx(float(slope), abs=1e-3)
            assert r["correlation"] == pytest.approx(
                float(np.corrcoef(x, y)[0, 1]), abs=1e-4
            )


class TestRepeatIntervalGolden:
    def test_stats_match_pandas(self, spark, sf_dir):
        o = pd.read_parquet(
            os.path.join(sf_dir, "orders.parquet"),
            columns=["o_custkey", "o_orderkey", "o_orderdate"],
        ).sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
        gaps = (
            o.groupby("o_custkey")["o_orderdate"]
            .diff()
            .dt.days.dropna()
            .to_numpy(float)
        )
        sizes = o.groupby("o_custkey").size()
        row = registry.QUERIES["q_repeat_interval"](spark, sf_dir).head()
        assert row["n_customers"] == len(sizes)
        assert row["n_repeat"] == int((sizes > 1).sum())
        assert row["n_gaps"] == len(gaps)
        assert row["mean_gap_days"] == pytest.approx(gaps.mean(), abs=1e-3)
        # np.median == quantile_cont(0.5) on the same multiset.
        assert row["median_gap_days"] == pytest.approx(
            float(np.median(gaps)), abs=1e-9
        )


class TestDegreeDistributionGolden:
    def test_histogram_matches_python(self, spark, sf_dir):
        edges = TestLinkPredictionGolden()._edges(sf_dir)
        deg: Counter = Counter()
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        hist = Counter(deg.values())
        n_nodes = len(deg)
        rows = registry.QUERIES["q_degree_distribution"](
            spark, sf_dir
        ).collect()
        got = {r["degree"]: r["n_nodes"] for r in rows}
        assert got == dict(hist)
        for r in rows:
            assert r["fraction"] == pytest.approx(
                r["n_nodes"] / n_nodes, abs=1e-5
            )


class TestClusterKeywordsGolden:
    def test_topk_matches_python(self, spark, sf_dir):
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        docs = docs[docs["text"].notna()]
        emb = pd.read_parquet(
            os.path.join(sf_dir, "embeddings.parquet"),
            columns=["vec_id", "label"],
        )
        lab = dict(zip(emb["vec_id"], emb["label"]))
        n_docs = len(docs)
        df_count: Counter = Counter()
        tf: dict = defaultdict(Counter)
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            toks = re.split(r"[ \t\n\r\f\x0B]+", text.strip().lower())
            df_count.update(set(toks))
            if doc_id in lab:
                tf[lab[doc_id]].update(toks)
        rows = registry.QUERIES["q_cluster_keywords"](spark, sf_dir).collect()
        by_label = defaultdict(list)
        for r in rows:
            by_label[r["label"]].append(r)
        for label, got in by_label.items():
            scored = [
                (
                    -_fround(c * math.log(n_docs / df_count[t]), 9),
                    t,
                    c,
                )
                for t, c in tf[label].items()
                if df_count[t] <= n_docs * 0.5
            ]
            expect = sorted(scored)[: len(got)]
            for r, (negscore, tok, c) in zip(got, expect):
                assert r["token"] == tok
                assert r["tf"] == c
                assert r["df"] == df_count[tok]
                assert r["tfidf"] == pytest.approx(-negscore, abs=1e-4)
            # ranks are 1..k in order
            assert [r["rnk"] for r in got] == list(range(1, len(got) + 1))


class TestMinhashEvalGolden:
    def test_planted_count_and_quality_bars(self, spark, sf_dir):
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        eligible = sum(
            1
            for doc_id, text in zip(docs["doc_id"], docs["text"])
            if doc_id % 10 == 0 and len(re.split(r"\s+", text.strip())) > 4
        )
        row = registry.QUERIES["q_minhash_eval"](spark, sf_dir).head()
        assert row["n_planted"] == eligible
        assert row["n_detected"] >= row["n_planted_detected"]
        # The planted dups drop only 2 trailing words from >4-word docs, so
        # the 8x4 LSH at est>=0.5 must catch nearly all of them, and what
        # it reports must be real (exact-Jaccard) near-dups with a small
        # estimator error — these are the harness's quality bars.
        assert row["recall"] >= 0.9
        assert row["precision"] >= 0.9
        assert row["mean_abs_err"] <= 0.1


class TestComposedPlans:
    def test_embed_outliers_broadcasts_stats(self, spark, sf_dir):
        """Centroids and z-stats must broadcast back onto the corpus — a
        shuffle join here would move the whole embedding table twice.  The
        scored corpus is an eager checkpoint, so the centroid join sits in
        the checkpoint job (the last SQL execution) and the z-stats join in
        the returned plan, which reads the checkpoint instead of a scan."""
        store = spark._jsparkSession.sharedState().statusStore()
        plan = plan_of(spark, sf_dir, "q_embed_outliers")
        built = store.executionsList(store.executionsCount() - 1, 1).head()
        built = built.physicalPlanDescription()
        assert "BroadcastHashJoin" in built
        assert "Scan parquet" in built
        assert "BroadcastHashJoin" in plan
        assert "Scan parquet" not in plan
        assert "Scan ExistingRDD" in plan
        assert "CartesianProduct" not in built + plan

    def test_embed_outliers_codegen_fits_with_ansi_on_and_off(self, spark, sf_dir):
        """With ANSI on (Spark 4's default) the unscored form compiled its
        final stage to a 65,479-byte method that Janino rejected, and the
        stage fell back to non-whole-stage execution.  Both modes must
        return the same rows, and every generated method of the returned
        plan must compile (stats available) and stay under 8,000 bytes."""
        jvm = spark._jvm
        ansi = spark.conf.get("spark.sql.ansi.enabled")
        got = {}
        try:
            for mode in ("true", "false"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                df = registry.QUERIES["q_embed_outliers"](spark, sf_dir)
                got[mode] = sorted(tuple(r) for r in df.collect())
                plan = df._jdf.queryExecution().executedPlan()
                seq = jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(
                    plan
                )
                sizes = [
                    seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())
                ]
                assert sizes and min(sizes) >= 0, (mode, sizes)
                assert max(sizes) < 8000, (mode, sizes)
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
        assert got["true"] == got["false"]
        assert got["true"]

    def test_no_python_row_udfs(self, spark, sf_dir):
        for name in (
            "q_lang_confusion",
            "q_tokenizer_fertility",
            "q_link_prediction",
            "q_embed_outliers",
            "q_price_elasticity",
            "q_repeat_interval",
            "q_degree_distribution",
        ):
            plan = plan_of(spark, sf_dir, name)
            assert "BatchEvalPython" not in plan
            assert "ArrowEvalPython" not in plan


class TestDupGroupStats:
    def test_histogram_consistent_with_cc_groups(self, spark, sf_dir):
        """The report's histogram must be exactly the size distribution of
        the CC assignment it composes on, and its corpus-level numbers must
        be internally consistent (fractions sum to 1, dup rate = removable
        mass / total mass)."""
        groups = registry.QUERIES["q_doc_dup_groups_cc"](spark, sf_dir).toPandas()
        stats = registry.QUERIES["q_dup_group_stats"](spark, sf_dir).toPandas()
        sizes = Counter(Counter(groups["dup_group"]).values())
        assert {
            int(r["group_size"]): int(r["n_groups"]) for _, r in stats.iterrows()
        } == dict(sizes)
        n_docs = len(groups)
        assert int(stats["n_docs_in_size"].sum()) == n_docs
        assert stats["doc_fraction"].sum() == pytest.approx(1.0, abs=1e-4)
        removable = sum((sz - 1) * n for sz, n in sizes.items() if sz > 1)
        assert stats["corpus_dup_rate"].iloc[0] == pytest.approx(
            _fround(removable / n_docs, 6), abs=1e-9
        )
        # the histogram is sorted ascending by size
        assert list(stats["group_size"]) == sorted(stats["group_size"])
