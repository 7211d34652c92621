"""Semantic goldens for the round-9 incremental-family completions:
q_cc_incremental (incremental dup-group maintenance) and
q_embed_dedup_incremental (embedding-space delta-vs-store dedup).

The core equivalence (incremental == full recompute) is already the
ORACLE for q_cc_incremental — DuckDB runs the full transitive closure
over the union graph while Spark runs the contracted merge — so these
tests pin the semantic claims the oracle's row-hash can't express
directly: cross-query consistency, verdict-branch coverage, and the
planted-pair contracts.
"""

from __future__ import annotations

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.text import (
    INCR_DELTA_MOD,
)
from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
    EMB_DELTA_MOD,
    NEAR_DUP_COS,
)

registry.load_all()


def test_cc_incremental_matches_full_cc(spark, sf_dir):
    """The operator's whole point: for every delta doc, the incremental
    merge assigns the SAME group id a full-corpus CC recompute assigns."""
    inc = {
        r.doc_id: r.dup_group
        for r in registry.QUERIES["q_cc_incremental"](spark, sf_dir).collect()
    }
    full = {
        r.doc_id: r.dup_group
        for r in registry.QUERIES["q_doc_dup_groups_cc"](spark, sf_dir).collect()
        if r.doc_id % INCR_DELTA_MOD == 0
    }
    assert inc == full


def test_cc_incremental_all_kinds_fire(spark, sf_dir):
    kinds = {
        r.dup_kind
        for r in registry.QUERIES["q_cc_incremental"](spark, sf_dir).collect()
    }
    assert kinds == {"merged_store", "new_new", "singleton"}


def test_cc_incremental_kind_semantics(spark, sf_dir):
    """merged_store groups carry an old-doc group id or absorb old members;
    new_new groups must be labelled by a delta doc (all members are delta);
    singletons label themselves."""
    rows = registry.QUERIES["q_cc_incremental"](spark, sf_dir).collect()
    for r in rows:
        if r.dup_kind == "singleton":
            assert r.dup_group == r.doc_id
        elif r.dup_kind == "new_new":
            assert r.dup_group % INCR_DELTA_MOD == 0
    by_group: dict[int, set[str]] = {}
    for r in rows:
        by_group.setdefault(r.dup_group, set()).add(r.dup_kind)
    mixed = {g: k for g, k in by_group.items() if len(k) > 1}
    assert not mixed, f"one component, two kinds: {mixed}"


def test_embed_dedup_incremental_all_kinds_fire(spark, sf_dir):
    kinds = {
        r.dup_kind
        for r in registry.QUERIES["q_embed_dedup_incremental"](
            spark, sf_dir
        ).collect()
    }
    assert kinds == {"dup_of_store", "dup_in_batch", "unique"}


def test_embed_dedup_incremental_verdict_consistency(spark, sf_dir):
    """Row-local invariants: unique rows carry no match columns; dup rows
    carry a best match above the cosine bar whose delta-parity is
    consistent with the verdict."""
    rows = registry.QUERIES["q_embed_dedup_incremental"](spark, sf_dir).collect()
    for r in rows:
        if r.dup_kind == "unique":
            assert r.n_matches == 0 and r.best_match_id is None
        else:
            assert r.n_matches > 0
            assert r.best_cos >= round(NEAR_DUP_COS, 4) - 1e-4
            if r.dup_kind == "dup_in_batch":
                # every match arrived today; the best one must have too
                assert r.best_match_id % EMB_DELTA_MOD == 0


def test_embed_dedup_incremental_planted_contracts(spark, sf_dir):
    """The A-plant (vec+10001, parity-flipping) guarantees dup_of_store
    rows for delta originals divisible by 25; the B-plant (vec+20000,
    parity-preserving) gives pure dup_in_batch pairs at v % 40 == 0 when
    no A-twin exists."""
    rows = {
        r.vec_id: r
        for r in registry.QUERIES["q_embed_dedup_incremental"](
            spark, sf_dir
        ).collect()
    }
    plants_a = [
        v
        for v in rows
        if v < 10000 and v % 25 == 0 and v % EMB_DELTA_MOD == 0
    ]
    assert plants_a, "fixture has no delta A-plant originals"
    for v in plants_a:
        assert rows[v].dup_kind == "dup_of_store", v
    pure_batch = [
        v
        for v in rows
        if v < 10000
        and v % 40 == 0
        and v % 25 != 0
        and v % EMB_DELTA_MOD == 0
    ]
    assert pure_batch, "fixture has no pure within-batch plant"
    for v in pure_batch:
        assert rows[v].dup_kind == "dup_in_batch", v


# ---------------------------------------------------------------------------
# Property test: the contraction ARGUMENT itself (pure Python, no Spark)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _cc_min_labels(nodes: set[int], edges: set[tuple[int, int]]) -> dict:
    """Min-id connected components by union-find (path compression)."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # settle to component minima
    comp_min: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in nodes}


@settings(max_examples=300, deadline=None)
@given(
    st.integers(3, 14),  # node count
    st.data(),
)
def test_contraction_merge_equals_full_recompute(n_nodes, data):
    """q_cc_incremental's core claim, checked over random graphs and
    random delta memberships: contracting standing (old-only) components
    to their min-id labels, rewriting delta-touching edges onto
    {delta nodes} ∪ {touched labels}, and running CC on that contracted
    graph yields, for every delta node, the SAME min-id label as a full
    CC over the union graph."""
    nodes = set(range(n_nodes))
    all_pairs = [(a, b) for a in nodes for b in nodes if a < b]
    edges = set(
        data.draw(
            st.lists(st.sampled_from(all_pairs), max_size=2 * n_nodes)
        )
    )
    delta = set(data.draw(st.lists(st.sampled_from(sorted(nodes)), min_size=1)))
    old = nodes - delta

    # standing store: CC over old-only edges
    standing = _cc_min_labels(
        old, {(a, b) for a, b in edges if a in old and b in old}
    )
    # contracted merge
    touch = {(a, b) for a, b in edges if a in delta or b in delta}
    contracted = set()
    cnodes = set(delta)
    for a, b in touch:
        ca = a if a in delta else standing[a]
        cb = b if b in delta else standing[b]
        cnodes.update((ca, cb))
        if ca != cb:
            contracted.add((min(ca, cb), max(ca, cb)))
    merged = _cc_min_labels(cnodes, contracted)

    full = _cc_min_labels(nodes, edges)
    for d in delta:
        assert merged[d] == full[d], (
            f"delta node {d}: contracted label {merged[d]} != full {full[d]} "
            f"(edges={sorted(edges)}, delta={sorted(delta)})"
        )


def test_fixture_store_consumers_are_declared_incremental_only():
    """_fixture_store persists derived state across runs
    keyed on the fixture — sanctioned ONLY where the registered semantics
    is incremental-vs-standing-store (the store is the operator's INPUT
    and the oracle certifies against a full recompute).  Pin the consumer
    set at the source level so a future query can't quietly adopt the
    store as a result cache: the only call sites of _fixture_store must
    be the two standing-store builders, and the only consumer of those
    builders must be q_cc_incremental."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "real_time_iot_data_engineering_pipeline_spark",
    )
    store_calls: list[tuple[str, str]] = []
    builder_calls: list[tuple[str, str]] = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(root, fn)
            with open(p) as f:
                src = f.read()
            for m in re.finditer(r"_fixture_store\(", src):
                if src[max(0, m.start() - 4) : m.start()] == "def ":
                    continue  # the definition itself
                line = src[: m.start()].count("\n") + 1
                store_calls.append((fn, f"L{line}"))
            for m in re.finditer(r"(cc_standing_store|cc_band_store)\(", src):
                # skip the def lines themselves
                defstart = src.rfind("def ", 0, m.start())
                if src[defstart : m.start()].strip() == "def":
                    continue
                builder_calls.append((fn, m.group(1)))
    # _fixture_store: exactly the two builders in text.py (plus its def)
    assert all(fn == "text.py" for fn, _ in store_calls), store_calls
    assert len(store_calls) == 2, store_calls
    # the builders are consumed only inside q_cc_incremental (text.py)
    assert all(fn == "text.py" for fn, _ in builder_calls), builder_calls
    assert len(builder_calls) == 2, builder_calls


def test_fixture_store_keeps_one_store_per_path_and_no_failed_tmp(
    spark, tmp_path
):
    """A regenerated fixture rebuilds its stores and the rebuild removes
    the stores of the fixture's earlier version: after a touch and a
    rebuild there is one store per kind for the path.  A build that
    fails leaves no tmp dir behind."""
    import glob
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from real_time_iot_data_engineering_pipeline_spark.queries.text import (
        _fixture_store,
        fixture_store_path,
        fixture_stores,
    )

    docs = tmp_path / "documents.parquet"
    spark.range(3).write.parquet(str(docs))
    kinds = ("test_store_a", "test_store_b")
    kind_dirs = [os.path.dirname(fixture_store_path(str(tmp_path), k)) for k in kinds]
    before = {d: set(os.listdir(d)) if os.path.isdir(d) else set() for d in kind_dirs}
    try:
        for k in kinds:
            assert _fixture_store(spark, str(tmp_path), k, lambda: spark.range(5)).count() == 5
        st = os.stat(docs)
        os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        for k in kinds:
            assert _fixture_store(spark, str(tmp_path), k, lambda: spark.range(7)).count() == 7
        for d in kind_dirs:
            assert len(set(os.listdir(d)) - before[d]) == 1, sorted(os.listdir(d))
        assert len(fixture_stores(str(tmp_path))) == len(kinds)

        os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 2 * 10**9))
        failing = lambda: spark.range(3).select(F.raise_error(F.lit("boom")))
        with pytest.raises(Exception, match="boom"):
            _fixture_store(spark, str(tmp_path), kinds[0], failing)
        assert glob.glob(fixture_store_path(str(tmp_path), kinds[0]) + "*") == []
    finally:
        for store in fixture_stores(str(tmp_path)):
            shutil.rmtree(store, ignore_errors=True)


def test_fixture_store_removes_stores_of_the_earlier_naming(spark, tmp_path):
    """Stores written before the `<path digest>-<stamp>` naming, a bare
    path digest and a failed build's `<digest>.tmp.<pid>`, are the path's
    superseded stores too: a build removes them, and fixture_stores lists
    them while they exist."""
    import os
    import shutil

    from real_time_iot_data_engineering_pipeline_spark.queries.text import (
        _fixture_store,
        _store_prefix,
        fixture_store_path,
        fixture_stores,
    )

    spark.range(3).write.parquet(str(tmp_path / "documents.parquet"))
    kind = "test_store_legacy"
    legacy = [_store_prefix(str(tmp_path), kind), _store_prefix(str(tmp_path), kind) + ".tmp.4242"]
    for d in legacy:
        os.makedirs(d)
    try:
        assert set(legacy) <= set(fixture_stores(str(tmp_path)))
        assert _fixture_store(spark, str(tmp_path), kind, lambda: spark.range(4)).count() == 4
        assert not any(os.path.exists(d) for d in legacy)
        assert fixture_stores(str(tmp_path)) == [fixture_store_path(str(tmp_path), kind)]
    finally:
        for store in fixture_stores(str(tmp_path)) + legacy:
            shutil.rmtree(store, ignore_errors=True)
