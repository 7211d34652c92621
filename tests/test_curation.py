"""Golden checks for the curation tier, INDEPENDENT of the DuckDB oracles:
decontamination recall re-derived in pure Python (hashlib md5 buckets +
planted canary groups), semantic dedup vs a numpy brute-force twin, and
repetition metrics vs per-row recomputation.  The oracle-parity test covers
hash-exactness; these pin the SEMANTICS (recall on the plant, cluster-scoped
pairing, argmax tie-breaks) against a second, non-SQL derivation."""

from __future__ import annotations

import hashlib
import pytest
import re
from collections import Counter

import numpy as np
import pandas as pd

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.curation import (
    DUP_TOKEN_MAX,
    N_CANARY_GROUPS,
    N_CENTROIDS,
    SEMDEDUP_THRESH,
    TOP_BIGRAM_MAX,
)

registry.load_all()


def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100


def test_decontaminate_flags_every_canary_collision(spark, sf_dir):
    """Every TRAIN doc planted with a canary whose group also occurs among
    planted TEST docs must be flagged — recall 1.0 on the known plant."""
    ids = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).doc_id.to_numpy()
    buckets = np.array([_bucket(int(i)) for i in ids])
    planted = ids % 4 == 0
    test_groups = set((ids[(buckets >= 90) & planted] % N_CANARY_GROUPS).tolist())
    expected = set(
        ids[
            (buckets < 80)
            & planted
            & np.isin(ids % N_CANARY_GROUPS, list(test_groups))
        ].tolist()
    )
    assert expected, "fixture must produce at least one canary collision"

    out = registry.QUERIES["q_decontaminate"](spark, sf_dir).toPandas()
    flagged = set(out.loc[out.contaminated, "doc_id"].tolist())
    assert expected <= flagged
    # output grain is exactly the train split, and flags agree with counts
    assert set(out.doc_id) == set(ids[buckets < 80].tolist())
    assert (out.loc[~out.contaminated, "n_contaminated"] == 0).all()
    assert (out.loc[out.contaminated, "n_contaminated"] > 0).all()


def test_semantic_dedup_matches_numpy_brute_force(spark, sf_dir):
    emb = (
        pd.read_parquet(f"{sf_dir}/embeddings.parquet")
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ids = emb.vec_id.to_numpy()
    M = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    seeds = M[ids < N_CENTROIDS]
    d2 = ((M[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    cid = d2.argmin(axis=1)  # argmin ties -> lowest cluster id, as in SQL
    nrm = np.linalg.norm(M, axis=1)
    cos = (M @ M.T) / np.outer(nrm, nrm)

    out = (
        registry.QUERIES["q_semantic_dedup"](spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert (out.vec_id.to_numpy() == ids).all()
    assert (out.cluster_id.to_numpy() == cid).all()
    for j in range(len(ids)):
        mask = (cid == cid[j]) & (ids < ids[j])
        expected = int((cos[j, mask] >= SEMDEDUP_THRESH).sum())
        assert out.n_near.iloc[j] == expected, f"vec_id={ids[j]}"
        assert bool(out.is_dup.iloc[j]) == (expected > 0)


def test_repetition_metrics_recompute(spark, sf_dir):
    out = (
        registry.QUERIES["q_repetition_filter"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).set_index("doc_id")
    assert set(out.index) == set(docs.index)
    # filter must actually split the corpus, not rubber-stamp it
    assert out.keep.any() and (~out.keep).any()

    for doc_id in list(out.index)[:25]:
        text = docs.loc[doc_id, "text"]
        toks = re.split(r"\s+", text.strip())
        row = out.loc[doc_id]
        assert row.n_tokens == len(toks)
        assert abs(row.dup_token_frac - (1 - len(set(toks)) / len(toks))) < 1e-3
        cnt = Counter(f"{a} {b}" for a, b in zip(toks, toks[1:]))
        best_bg, best_c = max(cnt.items(), key=lambda kv: (kv[1], kv[0]))
        assert row.top_bigram == best_bg
        assert abs(row.top_bigram_frac - best_c * len(best_bg) / len(text)) < 1e-3
        assert bool(row.keep) == (
            row.dup_token_frac <= DUP_TOKEN_MAX
            and row.top_bigram_frac <= TOP_BIGRAM_MAX
        )


class TestCurationPipeline:
    def test_cascade_matches_python_recompute(self, spark, sf_dir):
        """Recompute all four gates per document in pure Python and check
        the cascade (language -> quality -> repetition -> duplicate), the
        keep flag, and the keeper election on the planted copies."""
        import re
        from collections import Counter

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry
        from real_time_iot_data_engineering_pipeline_spark.queries.text import (
            _MARKERS,
        )

        raw = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).to_pydict()
        corpus = list(zip(raw["doc_id"], raw["text"])) + [
            (d + 100000, "  " + t.upper() + " ")
            for d, t in zip(raw["doc_id"], raw["text"])
            if d % 7 == 0
        ]
        norm = {
            d: re.sub(r"\s+", " ", t.strip()).lower() for d, t in corpus
        }
        keeper = {}
        for d, _ in sorted(corpus):
            keeper.setdefault(norm[d], d)
        rows = registry.QUERIES["q_curation_pipeline"](spark, sf_dir).collect()
        assert len(rows) == len(corpus)
        by_id = {r["doc_id"]: r for r in rows}
        reasons = Counter(r["drop_reason"] for r in rows)
        assert set(reasons) == {
            None,
            "language",
            "quality",
            "repetition",
            "duplicate",
        }, "every gate (and keep) must fire on the fixture"
        for d, t in corpus:
            words = re.split(r"\s+", t.strip().lower())
            n = len(words)
            conf = max(
                sum(w in mk for w in words) for mk in _MARKERS.values()
            )
            quality = (
                min(n / 100.0, 1.0) * 0.5
                + min(sum(w in _MARKERS["en"] for w in words) / n * 5.0, 1.0)
                * 0.3
                + (0.2 if 3.0 <= len(t) / n <= 10.0 else 0.0)
            )
            dupfrac = 1.0 - len(set(words)) / n
            if conf < 1:
                expect = "language"
            elif round(quality, 6) < 0.5 - 1e-9:
                expect = "quality"
            elif round(dupfrac, 6) > 0.6 + 1e-9:
                expect = "repetition"
            elif keeper[norm[d]] != d:
                expect = "duplicate"
            else:
                expect = None
            r = by_id[d]
            boundary = (
                abs(quality - 0.5) < 1e-4 or abs(dupfrac - 0.6) < 1e-4
            )
            if not boundary:
                assert r["drop_reason"] == expect, (d, expect, dict(r.asDict()))
                assert r["keep"] == (expect is None)
            assert r["is_dup_copy"] == (keeper[norm[d]] != d)


class TestSourceQualityReport:
    def test_consistent_with_pipeline_output(self, spark, sf_dir):
        """The report must be exactly the per-source rollup of
        q_curation_pipeline's verdict frame (composition consistency):
        counts, keep rates, kept tokens, and the modal drop reason all
        recomputed in Python from the pipeline rows themselves."""
        from collections import Counter, defaultdict

        import pyarrow.parquet as pq
        import pytest

        from real_time_iot_data_engineering_pipeline_spark import registry

        src_map = dict(
            zip(
                *(
                    pq.read_table(
                        f"{sf_dir}/documents.parquet",
                        columns=["doc_id", "source"],
                    )
                    .to_pydict()
                    .values()
                )
            )
        )
        pipe = registry.QUERIES["q_curation_pipeline"](spark, sf_dir).collect()
        per = defaultdict(lambda: {"n": 0, "kept": 0, "tok": 0, "q": 0.0})
        reasons = defaultdict(Counter)
        for r in pipe:
            s = src_map[r["doc_id"] % 100000]
            d = per[s]
            d["n"] += 1
            d["q"] += r["quality"]
            if r["keep"]:
                d["kept"] += 1
                d["tok"] += r["n_words"]
            else:
                reasons[s][r["drop_reason"]] += 1
        rows = {
            r["source"]: r
            for r in registry.QUERIES["q_source_quality_report"](
                spark, sf_dir
            ).collect()
        }
        assert set(rows) == set(per)
        for s, d in per.items():
            r = rows[s]
            assert r["n_docs"] == d["n"]
            assert r["n_kept"] == d["kept"]
            assert r["kept_tokens"] == d["tok"]
            assert r["keep_rate"] == pytest.approx(d["kept"] / d["n"], abs=1e-5)
            assert r["avg_quality"] == pytest.approx(d["q"] / d["n"], abs=1e-3)
            if reasons[s]:
                best = max(
                    reasons[s].items(), key=lambda kv: (kv[1], kv[0])
                )[0]
                assert r["top_drop_reason"] == best
            else:
                assert r["top_drop_reason"] is None


def test_source_cap_semantics_recompute(spark, sf_dir):
    """q_source_cap vs a pure-pandas recompute: at most K survivors per
    source, and they are exactly the K longest (n_chars DESC, doc_id
    tiebreak) — i.e. capping keeps the best quality-proxy docs, not an
    arbitrary subset."""
    from real_time_iot_data_engineering_pipeline_spark.queries.curation import (
        SOURCE_CAP_K,
    )

    got = (
        registry.QUERIES["q_source_cap"](spark, sf_dir)
        .toPandas()
        .sort_values(["source", "cap_rank"])
    )
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "source", "n_chars"]
    ]
    for source, grp in docs.groupby("source"):
        want = grp.sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        ).head(SOURCE_CAP_K)["doc_id"].tolist()
        have = got[got["source"] == source]["doc_id"].tolist()
        assert have == want, source
        assert len(have) <= SOURCE_CAP_K


def test_shard_assign_covers_corpus_and_balances(spark, sf_dir):
    """The shard manifest must partition the corpus exactly (doc counts sum
    to the table size), stay inside [0, N_SHARDS), and be hash-balanced:
    no shard holds more than 3x the mean (md5 uniformity at fixture sizes).
    Witnesses must be real doc ids from the shard's own membership."""
    from real_time_iot_data_engineering_pipeline_spark.queries.prep import (
        N_SHARDS,
    )

    got = registry.QUERIES["q_shard_assign"](spark, sf_dir).toPandas()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    assert got["n_docs"].sum() == len(docs)
    assert set(got["shard"]) <= set(range(N_SHARDS))
    mean = len(docs) / N_SHARDS
    assert got["n_docs"].max() <= 3 * mean
    # recompute shard + order witnesses for one shard in pure python
    h = docs["doc_id"].map(
        lambda d: int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16)
    )
    docs = docs.assign(_h=h, _shard=(h % N_SHARDS).astype(int))
    for row in got.itertuples():
        grp = docs[docs["_shard"] == row.shard].sort_values("_h")
        assert row.first_doc == grp.iloc[0]["doc_id"]
        assert row.last_doc == grp.iloc[-1]["doc_id"]
        assert row.n_docs == len(grp)


class TestDsirWeights:
    """Third implementation of the DSIR importance weights in pure Python
    (hashlib.md5 + Counter) — guards the shared hashed-ngram/smoothing
    formula against a both-engines-wrong bug, and pins the semantic point
    of the operator: English documents (the target distribution) must
    score higher than non-English ones."""

    @staticmethod
    def _feat_bucket(f: str) -> int:
        return int(hashlib.md5(f.encode("utf-8")).hexdigest()[:15], 16) % 512

    def _python_dsir(self, sf_dir: str):
        import math

        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark.functions.tokenize import WS

        tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
        ws = re.compile(WS)
        perdoc: dict[int, Counter] = {}
        lang: dict[int, str] = {}
        for r in tbl.itertuples():
            toks = ws.split(r.text.strip().lower())
            feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            perdoc[int(r.doc_id)] = Counter(self._feat_bucket(f) for f in feats)
            lang[int(r.doc_id)] = r.lang
        r_b: Counter = Counter()
        t_b: Counter = Counter()
        for d, cnt in perdoc.items():
            r_b.update(cnt)
            if lang[d] == "en":
                t_b.update(cnt)
        r_tot, t_tot = float(sum(r_b.values())), float(sum(t_b.values()))
        lr = {
            bkt: math.log((t_b.get(bkt, 0) + 1.0) / (t_tot + 512.0))
            - math.log((rc + 1.0) / (r_tot + 512.0))
            for bkt, rc in r_b.items()
        }
        logw = {
            d: sum(float(n) * lr[bkt] for bkt, n in cnt.items())
            for d, cnt in perdoc.items()
        }
        return logw, lang

    def test_dsir_matches_python_recompute(self, spark, sf_dir):
        import math

        logw, _ = self._python_dsir(sf_dir)

        def q6(x: float) -> float:
            return math.floor(x * 1e6 * (1.0 + 1e-12) + 0.5) / 1e6

        def q4(x: float) -> float:
            return math.floor(x * 1e4 * (1.0 + 1e-12) + 0.5) / 1e4

        k = math.ceil(len(logw) * (1.0 / 4.0))
        thr = sorted((q6(w) for w in logw.values()), reverse=True)[k - 1]
        rows = registry.QUERIES["q_dsir_weights"](spark, sf_dir).collect()
        assert len(rows) == len(logw)
        for r in rows:
            assert r["dsir_logw"] == q4(logw[r["doc_id"]]), r["doc_id"]
            assert r["keep"] == (q6(logw[r["doc_id"]]) >= thr), r["doc_id"]
        # the keep budget: >= k docs survive (ties at the threshold stay in)
        assert sum(r["keep"] for r in rows) >= k

    def test_dsir_targets_score_higher(self, spark, sf_dir):
        logw, lang = self._python_dsir(sf_dir)
        rows = registry.QUERIES["q_dsir_weights"](spark, sf_dir).collect()
        en = [r["dsir_logw"] for r in rows if lang[r["doc_id"]] == "en"]
        other = [r["dsir_logw"] for r in rows if lang[r["doc_id"]] != "en"]
        assert en and other
        # separation of means: the importance weight must rank the target
        # language clearly above the rest, and the majority of kept docs
        # must be target-language.
        assert sum(en) / len(en) > sum(other) / len(other) + 1.0
        kept_en = sum(1 for r in rows if r["keep"] and lang[r["doc_id"]] == "en")
        kept = sum(1 for r in rows if r["keep"])
        assert kept_en / kept > 0.8


def test_doremi_weights_match_pure_python(spark, sf_dir):
    """q_doremi_weights against a Counter-based pure-Python recompute of
    the full update (shared-vs-domain unigram NLLs, 6 dp-quantized excess,
    multiplicative update, uniform smoothing) — a third implementation
    beside the Spark plan and the DuckDB oracle.  Also pins the Group-DRO
    ordering property: base-share-normalized weight ratio is monotone in
    excess loss."""
    import math
    import os

    rows = {
        r.domain: r
        for r in registry.QUERIES["q_doremi_weights"](spark, sf_dir).collect()
    }
    df = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    df = df[df["text"].notna()]
    ws = re.compile(r"[ \t\n\r\f\x0B]+")
    dt: dict[str, Counter] = {}
    for lang, text in zip(df["lang"], df["text"]):
        dt.setdefault(lang, Counter()).update(ws.split(text.strip().lower()))
    ct: Counter = Counter()
    for c in dt.values():
        ct.update(c)
    t = sum(ct.values())
    v = len(ct)

    def fr(x, n):
        return math.floor(x * 10**n * (1 + 1e-12) + 0.5) / 10**n

    excess, base = {}, {}
    for d, c in dt.items():
        t_d = sum(c.values())
        nll_shared = sum(n * -math.log(ct[w] / t) for w, n in c.items())
        nll_own = sum(
            n * -math.log((n + 1.0) / (t_d + v)) for w, n in c.items()
        )
        excess[d] = max(fr((nll_shared - nll_own) / t_d, 6), 0.0)
        base[d] = t_d / t
    raw = {d: base[d] * math.exp(excess[d]) for d in dt}
    z, k = sum(raw.values()), len(raw)
    expect = {
        d: fr(0.99 * raw[d] / z + 0.01 / k, 6) for d in raw
    }
    assert set(rows) == set(expect)
    for d in expect:
        assert rows[d].weight == pytest.approx(expect[d], abs=2e-6), d
        assert rows[d].excess_loss == pytest.approx(
            fr(excess[d], 4), abs=2e-4
        ), d
        assert rows[d].n_tokens == sum(dt[d].values())
    # Group-DRO ordering: the PRE-smoothing uplift over base share,
    # recovered from the engine's weight ((w - c/k) / ((1-c) * base)
    # = exp(eta * excess) / z), is monotone in excess loss — the
    # smoothing term itself is base-share-dependent, so the smoothed
    # weight ratio is deliberately not the monotone quantity.
    uplift = sorted(
        (excess[d], (rows[d].weight - 0.01 / k) / (0.99 * base[d]))
        for d in expect
    )
    for (e1, u1), (e2, u2) in zip(uplift, uplift[1:]):
        if e2 > e1:
            assert u2 > u1 - 1e-6, (e1, e2, u1, u2)


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
