"""Committed bench artifacts must stay run-over-run comparable
(BENCH_DETAIL.json once shipped as an sf0.01 run while every earlier run
was sf0.1, making the wall-clock comparison a 10x-smaller-dataset
artifact)."""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_bench_detail_sf_matches_round_artifacts():
    detail = json.loads((REPO / "BENCH_DETAIL.json").read_text())
    assert detail["sf"] == 0.1, (
        f"committed BENCH_DETAIL.json is an sf={detail['sf']} run, not "
        "sf=0.1 — regenerate with "
        "SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py"
    )


def test_bench_detail_covers_current_registry():
    """Forcing function: after registering new queries, re-run the sf0.1
    bench so the committed detail (and the baseline ledger built from it)
    covers them."""
    from real_time_iot_data_engineering_pipeline_spark import registry

    registry.load_all()
    detail = json.loads((REPO / "BENCH_DETAIL.json").read_text())
    missing = sorted(set(registry.QUERIES) - set(detail["queries"]))
    assert not missing, (
        f"queries with no committed sf0.1 bench row: {missing} — re-run "
        "bench.py at sf0.1"
    )


# Doc-corpus modules: every query they register is part of the 100 TB
# text-processing tier and must carry an sf1 row (round-9 extension of the
# dedup/similarity leg).
_TEXT_FAMILY_MODULES = (
    "text",
    "prep",
    "curation",
    "ranking",
    "corpus",
    "lexical",
    "quality",
    "setjoin",
)
# Doc-corpus queries living in mixed modules (report/manifest/mining hold
# both relational and corpus operators; only the corpus ones get the bar).
_TEXT_FAMILY_EXTRA = frozenset(
    {
        "q_bpe_pairs",
        "q_burstiness",
        "q_corpus_stats",
        "q_dataset_manifest",
        "q_doc_length_bands",
        "q_heaps_law",
        "q_length_histogram",
        "q_mixture_sample",
        "q_mixture_weights",
        "q_quality_buckets",
        "q_shingle_profile",
        "q_source_divergence",
        "q_source_overlap",
        "q_stopword_profile",
        "q_tfidf_topterms",
        "q_vocab_coverage",
        "q_vocab_topk",
    }
)


def test_dedup_similarity_families_have_sf1_baselines():
    """The 100 TB-critical operators — the dedup/similarity families (r8
    verdict ask #5) and, since round 9, the whole text/quality/curation
    tier — carry an sf1.0 baseline row so their regression bar exists at
    the largest local scale.  Forcing function for NEW family queries:
    registering one obliges an sf1 leg (bench.py on
    .scale/sf1) merged via scripts/gen_baseline.py."""
    import re

    from real_time_iot_data_engineering_pipeline_spark import registry

    registry.load_all()
    fam_pat = re.compile(
        r"dedup|minhash|simhash|jaccard|embed|knn|semantic|decontam|novelty"
        r"|dup_group|fingerprint|sparse_cosine|pq_|editdist|paragraph"
    )

    def in_family(name: str) -> bool:
        if fam_pat.search(name) or name in _TEXT_FAMILY_EXTRA:
            return True
        mod = registry.QUERIES[name].__module__.rsplit(".", 1)[-1]
        return mod in _TEXT_FAMILY_MODULES

    ledger = json.loads(
        (REPO / "bench_snapshots" / "BASELINES.json").read_text()
    )
    missing = sorted(
        n
        for n in registry.QUERIES
        if in_family(n) and "sf1" not in ledger.get(n, {})
    )
    assert not missing, (
        f"100 TB-tier queries with no sf1.0 baseline row: {missing} — "
        "time them with SPARK_GRAFT_SF_DIR=.scale/sf1 SPARK_GRAFT_BENCH_ONLY=... "
        "python bench.py and merge with scripts/gen_baseline.py"
    )



def test_timed_loop_sha_ignores_comments_not_code():
    """The artifact's timed_loop_sha names the timing code, not its
    comments: a comment added inside the loop (at any indent) keeps it,
    a changed statement changes it."""
    import bench

    src = (REPO / "bench.py").read_text()
    sha = bench.timed_loop_sha(src)
    loop_line = "    for k in range(reps):\n"
    assert src.count(loop_line) == 1
    commented = src.replace(
        loop_line, "    # a note\n# at column 0\n" + loop_line + "        # inside\n"
    )
    assert bench.timed_loop_sha(commented) == sha
    edited = src.replace(loop_line, "    for k in range(reps + 1):\n")
    assert bench.timed_loop_sha(edited) != sha
