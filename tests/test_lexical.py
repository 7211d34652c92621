"""Lexical tier: independent pure-Python golden recomputes (regex
tokenizer + collections.Counter / numpy, no SQL machinery) and plan pins.
Oracle parity runs in tests/test_oracle_parity.py.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.lexical import (
    NOVELTY_N,
    SKIPGRAM_TOP_K,
    ZIPF_TOP_K,
)
from real_time_iot_data_engineering_pipeline_spark.queries.prep import (
    SPLIT_TRAIN_PCT,
)

from .test_plans import plan_of

registry.load_all()

# Python twin of ranking.WS_CLASS — spelled here independently so a drift
# in the engine's class is caught, not mirrored.
_WS = re.compile(r"[ \t\n\r\f\x0B]+")


def _docs(sf_dir: str) -> pd.DataFrame:
    df = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    return df[df["text"].notna()]


def _tokens(text: str) -> list[str]:
    return _WS.split(text.strip().lower())


def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100


class TestSkipgramGolden:
    def test_topk_matches_counter(self, spark, sf_dir):
        counts: Counter = Counter()
        for text in _docs(sf_dir)["text"]:
            t = _tokens(text)
            for k in (1, 2):
                counts.update(zip(t[:-k] if k else t, t[k:]))
        expect = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[:SKIPGRAM_TOP_K]
        rows = registry.QUERIES["q_skipgram_pairs"](spark, sf_dir).collect()
        assert len(rows) == min(SKIPGRAM_TOP_K, len(counts))
        got = [((r["w1"], r["w2"]), r["n"]) for r in rows]
        assert got == expect


class TestZipfGolden:
    def test_fit_matches_numpy(self, spark, sf_dir):
        counts: Counter = Counter()
        for text in _docs(sf_dir)["text"]:
            counts.update(_tokens(text))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :ZIPF_TOP_K
        ]
        freqs = np.array([c for _, c in top], dtype=float)
        ranks = np.arange(1, len(freqs) + 1, dtype=float)
        slope, _ = np.polyfit(np.log(ranks), np.log(freqs), 1)
        r = np.corrcoef(np.log(ranks), np.log(freqs))[0, 1]
        row = registry.QUERIES["q_zipf_fit"](spark, sf_dir).head()
        assert row["n_terms"] == len(freqs)
        assert row["zipf_exponent"] == pytest.approx(-slope, abs=1e-3)
        assert row["r2"] == pytest.approx(r * r, abs=1e-3)
        # The synthetic corpus draws words near-uniformly, so the fit is
        # weak by construction (R² ~ 0.06 at sf0.001) — assert only the
        # frequency-vs-rank direction (positive exponent) and that R² is a
        # valid coefficient; the VALUE checks above are the real test.
        assert row["zipf_exponent"] > 0.0
        assert 0.0 <= row["r2"] <= 1.0


class TestNoveltyGolden:
    def test_per_source_matches_python(self, spark, sf_dir):
        docs = _docs(sf_dir)
        train: set = set()
        test_by_src: dict = {}
        for doc_id, text, source in zip(
            docs["doc_id"], docs["text"], docs["source"]
        ):
            t = _tokens(text)
            grams = {
                " ".join(t[i : i + NOVELTY_N])
                for i in range(len(t) - NOVELTY_N + 1)
            }
            if _bucket(doc_id) < SPLIT_TRAIN_PCT:
                train |= grams
            else:
                test_by_src.setdefault(source, set()).update(grams)
        rows = registry.QUERIES["q_ngram_novelty"](spark, sf_dir).collect()
        assert {r["source"] for r in rows} == set(test_by_src)
        for r in rows:
            grams = test_by_src[r["source"]]
            novel = len(grams - train)
            assert r["n_test_grams"] == len(grams)
            assert r["n_novel"] == novel
            assert r["novelty"] == pytest.approx(
                novel / len(grams), abs=1e-5
            )
            assert 0.0 <= r["novelty"] <= 1.0


class TestLexicalPlans:
    def test_skipgram_expands_without_join(self, spark, sf_dir):
        """Skip-gram expansion must stay in the array domain — any Join in
        the plan means a posexplode alignment self-join snuck back in."""
        plan = plan_of(spark, sf_dir, "q_skipgram_pairs")
        assert "Join" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_zipf_topk_is_take_ordered(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q_zipf_fit")
        assert "TakeOrderedAndProject" in plan

    def test_no_python_row_udfs(self, spark, sf_dir):
        for name in ("q_skipgram_pairs", "q_zipf_fit", "q_ngram_novelty"):
            plan = plan_of(spark, sf_dir, name)
            assert "BatchEvalPython" not in plan
            assert "ArrowEvalPython" not in plan
