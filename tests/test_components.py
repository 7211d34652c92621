"""Property tests for functions/components.py: the alternating
large-star/small-star iteration must equal a pure-Python union-find (a
third, independent implementation) on adversarial topologies — deep paths
beyond any fixed round count, cycles, hubs, merged components, isolated
nodes — plus seeded random graphs.  Also pins the fixpoint claim the
bounded q_doc_dup_groups explicitly does NOT make: deep chains converge."""

from __future__ import annotations

import random

import pytest

from real_time_iot_data_engineering_pipeline_spark.functions.components import (
    connected_components,
)
from real_time_iot_data_engineering_pipeline_spark import registry

registry.load_all()


def union_find(nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Component label = min node id (find() roots at the min because unions
    # always parent the larger root under the smaller).
    return {n: find(n) for n in nodes}


def run_cc(spark, nodes, edges, **kw) -> dict[int, int]:
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = (
        spark.createDataFrame(edges, "src long, dst long")
        if edges
        else spark.createDataFrame([], "src long, dst long")
    )
    rows = connected_components(ndf, edf, **kw).collect()
    assert len(rows) == len(nodes), "exactly one label per node"
    return {r["id"]: r["component"] for r in rows}


CASES = {
    "deep_path_d20": (list(range(21)), [(i, i + 1) for i in range(20)]),
    "deep_path_reversed_ids": (
        list(range(21)),
        [(20 - i, 19 - i) for i in range(20)],
    ),
    "cycle": (list(range(12)), [(i, (i + 1) % 12) for i in range(12)]),
    "star_hub_max_id": (list(range(10)), [(9, i) for i in range(9)]),
    "two_chains_merged_at_tail": (
        list(range(14)),
        [(i, i + 1) for i in range(6)]
        + [(i, i + 1) for i in range(7, 13)]
        + [(6, 13)],
    ),
    "isolated_nodes": ([1, 2, 3, 4, 5], [(1, 2)]),
    "complete_k6": (
        list(range(6)),
        [(a, b) for a in range(6) for b in range(a + 1, 6)],
    ),
    "self_loops_and_dups": ([1, 2, 3], [(1, 1), (1, 2), (2, 1), (1, 2)]),
}


# Every equality test runs every execution path (r13): local_max_edges=0
# forces the distributed star rounds (the 100 TB path), the default takes
# the single-task union-find fast path every fixture-scale graph now takes,
# and 5 runs distributed rounds until contraction leaves at most 5 edges,
# then the local finish — each pinned against the pure-Python union-find
# independently.
BOTH_PATHS = {"local": None, "distributed": 0, "hybrid": 5}


@pytest.mark.parametrize("path", sorted(BOTH_PATHS))
@pytest.mark.parametrize("case", sorted(CASES))
def test_matches_union_find_on_adversarial_topologies(spark, case, path):
    nodes, edges = CASES[case]
    got = run_cc(spark, nodes, edges, local_max_edges=BOTH_PATHS[path])
    assert got == union_find(nodes, edges)


@pytest.mark.parametrize("path", sorted(BOTH_PATHS))
@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_matches_union_find_on_random_graphs(spark, seed, path):
    rng = random.Random(seed)
    n = 60
    nodes = sorted(rng.sample(range(10_000), n))  # sparse, non-contiguous ids
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(int(n * 1.2))
    ]
    got = run_cc(spark, nodes, edges, local_max_edges=BOTH_PATHS[path])
    assert got == union_find(nodes, edges)


def test_hybrid_hands_off_mid_iteration(spark, monkeypatch):
    """K6 has 15 canonical edges and contracts to its 5-edge star in one
    round, so threshold 5 runs exactly one distributed round and then the
    local finish, on the round's checkpointed output — the size switch
    mid-iteration, not at entry."""
    from real_time_iot_data_engineering_pipeline_spark.functions import components

    calls = []

    def spy(name):
        original = getattr(components, name)

        def wrapped(df):
            calls.append((name, df.count()))
            return original(df)

        monkeypatch.setattr(components, name, wrapped)

    spy("_large_star")
    spy("_local_star_finish")
    nodes, edges = CASES["complete_k6"]
    got = run_cc(spark, nodes, edges, local_max_edges=5)
    assert got == union_find(nodes, edges)
    assert calls == [("_large_star", 15), ("_local_star_finish", 5)]


@pytest.mark.parametrize("case", sorted(CASES))
def test_star_fixpoint_is_disjoint_stars(spark, case):
    """The fixpoint edge set must be a union of stars centered at the
    component minima, with every NON-CENTER node appearing as `hi` in
    EXACTLY one row — the invariant q_dup_group_stats reads group sizes
    off (count-per-center + 1) and connected_components' left join relies
    on (a duplicated hi would duplicate label rows).  Verified against
    union-find on every adversarial topology."""
    from real_time_iot_data_engineering_pipeline_spark.functions.components import (
        star_fixpoint,
    )

    nodes, edges = CASES[case]
    edf = spark.createDataFrame(edges, "src long, dst long")
    # Pin the invariant on BOTH paths: the local union-find finish and the
    # distributed star rounds must emit the identical edge set.
    local_rows = star_fixpoint(edf).collect()
    dist_rows = star_fixpoint(edf, local_max_edges=0).collect()
    assert sorted((r["hi"], r["lo"]) for r in local_rows) == sorted(
        (r["hi"], r["lo"]) for r in dist_rows
    ), "fast path diverged from the distributed fixpoint"
    rows = local_rows
    his = [r["hi"] for r in rows]
    assert len(his) == len(set(his)), "a non-center node appeared twice"
    labels = union_find(nodes, edges)
    centers = set(labels.values())
    assert set(his).isdisjoint(centers), "a center appeared as a member"
    for r in rows:
        assert labels[r["hi"]] == r["lo"], "star edge points off-center"
    # Per-component sizes read off the stars equal union-find's sizes
    # for every non-singleton component.
    from collections import Counter

    star_sizes = Counter(r["lo"] for r in rows)
    uf_sizes = Counter(labels.values())
    expect = {c: n for c, n in uf_sizes.items() if n > 1}
    assert {c: n + 1 for c, n in star_sizes.items()} == expect


def test_deep_path_exceeds_bounded_rounds(spark):
    """Diameter-20 path: 3 label-propagation rounds provably cannot finish
    (labels move <= 3 hops), but the star iteration reaches the fixpoint —
    every node labeled with the path's minimum."""
    nodes, edges = CASES["deep_path_d20"]
    got = run_cc(spark, nodes, edges)
    assert set(got.values()) == {0}


def test_unconverged_raises_instead_of_lying(spark):
    with pytest.raises(RuntimeError, match="converge"):
        run_cc(
            spark,
            list(range(40)),
            [(i, i + 1) for i in range(39)],
            max_rounds=1,
            local_max_edges=0,  # force the distributed rounds being tested
        )


def test_dup_groups_cc_agrees_with_union_find_on_fixture(spark, sf_dir):
    """The registered query's labels ARE the true components of its own
    candidate-pair graph (independent of the DuckDB oracle, which checks the
    same thing by recursive closure)."""
    from real_time_iot_data_engineering_pipeline_spark.queries.text import (
        _minhash_pairs,
        _near_corpus,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b").collect()
    ]
    nodes = [r["doc_id"] for r in _near_corpus(spark, sf_dir).select("doc_id").collect()]
    expect = union_find(nodes, pairs)
    rows = registry.QUERIES["q_doc_dup_groups_cc"](spark, sf_dir).collect()
    got = {r["doc_id"]: r["dup_group"] for r in rows}
    assert got == expect
    keepers = {r["doc_id"] for r in rows if r["is_keeper"]}
    assert keepers == set(expect.values())


def test_simhash_pairs_equal_brute_force_hamming(spark, sf_dir):
    """The 4x16-bit banded self-join must find EXACTLY the pairs a
    quadratic Hamming scan finds at distance <= 3 (pigeonhole guarantee),
    and every planted re-cased duplicate must land at hamming 0."""
    from real_time_iot_data_engineering_pipeline_spark.queries.text import (
        SIMHASH_HAM_MAX,
        q_doc_simhash,
        q_simhash_pairs,
    )

    # signatures over the SAME exact-dup corpus the pair query uses
    sigs = {
        r["doc_id"]: int(r["simhash"], 2)
        for r in q_doc_simhash(spark, sf_dir).collect()
    }
    ids = sorted(sigs)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= SIMHASH_HAM_MAX:
                expect.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_simhash_pairs(spark, sf_dir).collect()
    }
    assert set(got) == expect
    # planted exact re-casings (doc_id % 7 == 0 -> +100000) collide exactly
    planted = [(d, d + 100000) for d in ids if d < 100000 and d % 7 == 0]
    for pair in planted:
        assert got.get(pair) == 0, pair
    # reported hamming agrees with the signature xor popcount
    for (a, b), h in got.items():
        assert h == bin(sigs[a] ^ sigs[b]).count("1")


def test_simhash_pairs_plan_no_cartesian(spark, sf_dir):
    from real_time_iot_data_engineering_pipeline_spark.queries.text import (
        q_simhash_pairs,
    )

    plan = (
        q_simhash_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_detects_planted_excerpts(spark, sf_dir):
    """Planted truncated near-dups (last two words cut) are exact shingle
    SUBSETS of their originals: every detected planted pair must show
    n_common == n_b (the subset side fully contained, containment 1.0)
    and never classify as 'a_in_b'; detection recall over the planted
    population must be high (anchor survives unless the min shingle was
    in the cut tail)."""
    from real_time_iot_data_engineering_pipeline_spark.queries.text import (
        CONTAIN_DEN,
        CONTAIN_NUM,
        q_doc_containment,
    )

    rows = q_doc_containment(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            CONTAIN_DEN * r.n_common >= CONTAIN_NUM * r.n_a
            or CONTAIN_DEN * r.n_common >= CONTAIN_NUM * r.n_b
        )
        assert r.n_common <= min(r.n_a, r.n_b)
    planted = [r for r in rows if r.doc_b == r.doc_a + 200000]
    assert planted, "no planted excerpt pair detected at all"
    for r in planted:
        assert r.n_common == r.n_b, (r.doc_a, r.doc_b)  # exact subset
        assert r.relation in ("mutual", "b_in_a")
        assert r.containment == 1.0
    # recall over originals long enough to shingle after truncation
    import os
    import re

    import pandas as pd

    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    eligible = sum(
        1
        for doc_id, text in zip(docs["doc_id"], docs["text"])
        if doc_id % 10 == 0
        and len(re.split(r"\s+", text.strip())) - 2 >= 3  # >=1 shingle left
    )
    assert len(planted) >= 0.8 * eligible


def test_simhash_eval_scorecard_bars(spark, sf_dir):
    """The SimHash scorecard must count every planted truncated pair,
    show strong signature separation (planted pairs many times closer
    than background), and keep its own internal consistency."""
    import os

    import pandas as pd

    from real_time_iot_data_engineering_pipeline_spark import registry

    registry.load_all()
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    n_tenth = int((docs["doc_id"] % 10 == 0).sum())
    row = registry.QUERIES["q_simhash_eval"](spark, sf_dir).head()
    assert row.n_planted == n_tenth
    assert 0 < row.n_within_band <= row.n_planted
    assert abs(row.recall - round(row.n_within_band / row.n_planted, 4)) < 1e-9
    # dropping 2 trailing words moves a few bits; unrelated docs ~32/2
    assert row.mean_ham_planted < 8
    assert row.mean_ham_background > 15
    assert row.mean_ham_background > 3 * row.mean_ham_planted
