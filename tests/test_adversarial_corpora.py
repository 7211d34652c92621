"""Adversarial synthetic corpora for the round-9 operators — boundary
cases the driver fixture's word-salad can't produce deliberately:

- q_jaccard_setjoin: pairs engineered to sit EXACTLY at the tau=0.8
  threshold (the >= must include them), just below it (must exclude),
  at Jaccard 1.0 (identical texts), and degenerate docs too short to
  shingle.  Expectations come from a pure-Python shingle brute force
  over the same derived corpus — a third, Spark-free implementation.
- q_cc_incremental: a 5-deep truncation CHAIN with alternating
  store/delta parities, so the contracted merge has to stitch multiple
  standing fragments through delta nodes — the deep-component case the
  min-label star fixpoint exists for.  Checked two ways: equivalence
  with the registered full recompute on the same corpus, and the
  closed-form expectation that every chain member lands in the
  min-id group.

Both operators read documents from {sf_dir}/documents.parquet, so each
test writes a tiny parquet corpus under tmp_path and points the
registered query at it — the exact production code path, no seams.
Doc ids avoid % 10 == 0 (the _near_corpus plant) so the corpus stays
exactly as written, plus planted singletons/pairs for verdict coverage.
"""

from __future__ import annotations

import itertools
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.setjoin import TAU_NUM
from real_time_iot_data_engineering_pipeline_spark.queries.text import (
    INCR_DELTA_MOD,
    fixture_stores,
)

registry.load_all()


def _write_docs(path, rows: dict[int, str]) -> str:
    table = pa.table(
        {
            "doc_id": pa.array(sorted(rows), type=pa.int64()),
            "text": pa.array([rows[i] for i in sorted(rows)], type=pa.string()),
            "lang": pa.array(["en"] * len(rows), type=pa.string()),
            "source": pa.array(["adversarial"] * len(rows), type=pa.string()),
            "n_chars": pa.array(
                [len(rows[i]) for i in sorted(rows)], type=pa.int64()
            ),
        }
    )
    pq.write_table(table, f"{path}/documents.parquet")
    return str(path)


def _shingles(text: str) -> frozenset[str]:
    words = text.strip().lower().split()
    return frozenset(
        " ".join(words[i : i + 3]) for i in range(len(words) - 2)
    )


def _words(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i:03d}" for i in range(n)]


def test_setjoin_threshold_boundaries(spark, tmp_path):
    """Exact-integer threshold arithmetic at the boundary: shared prefix
    w1..w18 of a 20-word doc gives 16 shared shingles of 18 per side —
    Jaccard 16/20 = 0.8 EXACTLY, which >= tau must include; one word less
    shared (15/21 = 0.714) must be excluded; identical texts give 1.0."""
    w = _words("tok", 20)
    base = " ".join(w)  # 18 shingles
    at_bar = " ".join(w[:18] + ["novelx", "novely"])  # shares 16 -> J=0.8
    below = " ".join(w[:17] + ["altp", "altq", "altr"])  # shares 15 -> 0.714
    rows = {
        1001: base,
        1002: at_bar,
        1003: below,
        1004: base,  # identical twin of 1001 -> J = 1.0
        1006: "one two",  # 0 shingles: must not appear, must not crash
        1007: "single",
        1008: " ".join(_words("iso", 12)),  # unrelated singleton
    }
    sf = _write_docs(tmp_path, rows)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in registry.QUERIES["q_jaccard_setjoin"](spark, sf).collect()
    }
    # pure-Python brute force over the same corpus (no planted ids used)
    sets = {i: _shingles(t) for i, t in rows.items() if _shingles(t)}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if 10 * inter >= TAU_NUM * union:  # J >= tau, exact integers
            want[(a, b)] = round(inter / union, 4)
    assert set(got) == set(want), (
        f"missed={set(want) - set(got)} extra={set(got) - set(want)}"
    )
    for pair, j in want.items():
        assert abs(got[pair] - j) < 1e-3, (pair, got[pair], j)
    assert (1001, 1002) in got and abs(got[(1001, 1002)] - 0.8) < 1e-9
    assert (1001, 1003) not in got
    assert (1001, 1004) in got and got[(1001, 1004)] == 1.0


def test_setjoin_prefix_ceil_edges(spark, tmp_path):
    """Prefix length p = n - ceil(tau*n) + 1 at every residue of n mod 10
    (the ceil formula's corner cases): a full ladder of twin pairs with
    set sizes 5..14, each pair differing by its last shingle only — all
    have Jaccard (n-1)/(n+1) >= 0.8 for n >= 9, below for n <= 8.  The
    brute force decides which; the query must agree at every size."""
    ids = (i for i in itertools.count(2001) if i % 10 != 0)
    rows = {}
    for n_sh in range(5, 15):  # shingle-set size = words - 2
        words = _words(f"s{n_sh}x", n_sh + 2)
        rows[next(ids)] = " ".join(words)
        rows[next(ids)] = " ".join(words[:-1] + [f"end{n_sh}"])
    sf = _write_docs(tmp_path, rows)
    got = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["q_jaccard_setjoin"](spark, sf).collect()
    }
    sets = {i: _shingles(t) for i, t in rows.items()}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 10 * inter >= TAU_NUM * union:
            want.add((a, b))
    assert got == want, f"missed={want - got} extra={got - want}"
    assert want, "ladder produced no expected pairs — test is vacuous"


@pytest.fixture
def store_owner(tmp_path):
    """tmp_path, whose incremental stores (text._fixture_store, keyed on
    the path) are removed after the test."""
    yield tmp_path
    for store in fixture_stores(str(tmp_path)):
        shutil.rmtree(store, ignore_errors=True)


def test_cc_incremental_deep_chain_across_parities(spark, store_owner):
    """A truncation chain t0..t4 (each dropping two trailing words) whose
    ids alternate store/delta parity: the standing store fragments into
    old-only components and the contracted merge must stitch them through
    the delta nodes into ONE min-id group — the deep-diameter case.
    Plus an isolated delta pair (new_new) and a delta singleton."""
    base_words = _words("chain", 16)
    chain_ids = [1001, 1004, 1005, 1008, 1009]  # %4: 1,0,1,0,1
    rows = {
        cid: " ".join(base_words[: 16 - 2 * i])
        for i, cid in enumerate(chain_ids)
    }
    # isolated delta-delta pair: distinct vocabulary, near-identical texts
    pair_words = _words("pairv", 14)
    rows[2004] = " ".join(pair_words)
    rows[2008] = " ".join(pair_words[:-1] + ["tail"])
    # isolated delta singleton
    rows[3004] = " ".join(_words("solo", 12))
    sf = _write_docs(store_owner, rows)

    inc = {
        r.doc_id: r
        for r in registry.QUERIES["q_cc_incremental"](spark, sf).collect()
    }
    full = {
        r.doc_id: r.dup_group
        for r in registry.QUERIES["q_doc_dup_groups_cc"](spark, sf).collect()
        if r.doc_id % INCR_DELTA_MOD == 0
    }
    assert {d: r.dup_group for d, r in inc.items()} == full

    # the chain's delta members must sit in the min-id group with the
    # standing fragments absorbed
    for d in (1004, 1008):
        assert inc[d].dup_group == 1001, inc[d]
        assert inc[d].dup_kind == "merged_store", inc[d]
    # isolated all-delta pair
    for d in (2004, 2008):
        assert inc[d].dup_group == 2004 and inc[d].dup_kind == "new_new"
    # delta singleton
    assert inc[3004].dup_group == 3004 and inc[3004].dup_kind == "singleton"


def test_group_split_collapses_whitespace_and_case_variants(spark, tmp_path):
    """The content-hash group key normalizes case and whitespace runs:
    five surface variants of one text must land in ONE group (keeper =
    min doc_id) and therefore one split."""
    text = " ".join(_words("norm", 10))
    rows = {
        1001: text,
        1002: text.upper(),
        1003: "  " + text + "  ",
        1004: text.replace(" ", "\t"),
        1006: text.replace(" ", "  "),
        1007: " ".join(_words("other", 10)),
    }
    sf = _write_docs(tmp_path, rows)
    got = {
        r.doc_id: r
        for r in registry.QUERIES["q_group_split"](spark, sf).collect()
        if r.doc_id < 100000  # ignore the corpus's own planted dups
    }
    variant_ids = [1001, 1002, 1003, 1004, 1006]
    assert {got[i].group_id for i in variant_ids} == {1001}
    assert len({got[i].split for i in variant_ids}) == 1
    assert got[1007].group_id == 1007
