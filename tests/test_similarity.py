"""Approximation-quality and plumbing tests for the similarity/multimodal
tier — properties the value-hash oracle can't express: LSH recall vs brute
force, candidate-set pruning, and the multimodal decode-stub contract."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries.multimodal import (
    decode_media,
    fake_decode_features,
    media_table,
)
from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
    N_QUERIES,
)

registry.load_all()


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


class TestLshQuality:
    def test_lsh_recall_vs_brute_force(self, spark, sf_dir):
        exact = _pairs(registry.QUERIES["q_embed_knn"](spark, sf_dir))
        approx = _pairs(registry.QUERIES["q_embed_knn_lsh"](spark, sf_dir))
        assert len(exact) == N_QUERIES * 5
        recall = len(exact & approx) / len(exact)
        # deterministic given the fixture + fixed hyperplanes; 16-bit SRP
        # with 4 bands is a coarse sketch — the bar is "much better than
        # random", the exact value is pinned by the oracle hash check.
        assert recall >= 0.3, f"LSH recall collapsed: {recall:.2f}"

    def test_lsh_prunes_candidates(self, spark, sf_dir):
        """The bucketed join must score strictly fewer pairs than brute
        force — otherwise the 'scale path' is a disguised cross join."""
        from real_time_iot_data_engineering_pipeline_spark.queries import (
            similarity as sim,
        )

        q = sim._query_side(spark, sf_dir).drop("label")
        c = sim._corpus_side(spark, sf_dir).drop("label")
        n_corpus = c.count()
        brute_pairs = (n_corpus - 1) * N_QUERIES
        qb = (
            q.withColumnRenamed("q_emb", "emb_d")
            .withColumn("sig", F.expr(sim._SIG_SPARK))
            .select("query_id", "sig")
        )
        cb = (
            c.withColumnRenamed("c_emb", "emb_d")
            .withColumn("sig", F.expr(sim._SIG_SPARK))
            .select(F.col("neighbor_id").alias("nid"), F.col("sig").alias("csig"))
        )
        band = F.explode(F.sequence(F.lit(0), F.lit(sim.N_BANDS - 1))).alias("band")
        qx = qb.select("query_id", "sig", band).withColumn(
            "bk", F.expr(f"substr(sig, band * {sim._BAND_BITS} + 1, {sim._BAND_BITS})")
        )
        cx = cb.select("nid", "csig", band).withColumn(
            "bk", F.expr(f"substr(csig, band * {sim._BAND_BITS} + 1, {sim._BAND_BITS})")
        )
        n_cand = (
            qx.join(cx, ["band", "bk"])
            .filter(F.col("nid") != F.col("query_id"))
            .select("query_id", "nid")
            .distinct()
            .count()
        )
        assert n_cand < brute_pairs * 0.75, (n_cand, brute_pairs)

    def test_ivf_searches_only_own_cell(self, spark, sf_dir):
        """Every IVF result must share the query's label (cell)."""
        res = registry.QUERIES["q_embed_ivf"](spark, sf_dir)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "label"
        )
        joined = (
            res.join(
                emb.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
                    "label", "q_label"
                ),
                "query_id",
            )
            .join(
                emb.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                    "label", "n_label"
                ),
                "neighbor_id",
            )
            .filter(F.col("q_label") != F.col("n_label"))
        )
        assert joined.count() == 0


class TestMultimodal:
    def test_decode_contract(self):
        # r03: PNG/WAV headers decode for real (pure-Python); r08 added the
        # MP4 box walk, so corrupt bytes of EVERY supported container are
        # ValueError and only truly unknown formats stay NotImplementedError
        with pytest.raises(ValueError):
            decode_media(b"\x00\x00", "video/mp4")
        with pytest.raises(NotImplementedError):
            decode_media(b"\x00\x00", "video/webm")
        with pytest.raises(ValueError):
            decode_media(b"\x89PNG...", "image/png")

    def test_fake_decode_is_deterministic_pure_function_of_bytes(self):
        a = fake_decode_features(b"hello world")
        b = fake_decode_features(b"hello world")
        assert a == b
        assert a[0] == 11 and len(a[1]) == 64

    def test_media_table_schema_and_batch_shape(self, spark, sf_dir):
        mt = media_table(spark, sf_dir)
        assert [f.dataType.simpleString() for f in mt.schema.fields] == [
            "bigint",
            "string",
            "binary",
        ]
        feats = registry.QUERIES["q_multimodal_features"](spark, sf_dir)
        row = feats.orderBy("doc_id").first()
        assert row.content_type == "image/png"  # doc_id 0 -> ct[0]
        assert row.byte_len > 0 and row.width == row.byte_len % 640 + 1
        # the plan must actually cross into Python via mapInPandas
        assert "MapInPandas" in feats._jdf.queryExecution().executedPlan().toString()


class TestQuantization:
    def test_quantize_matches_numpy_recompute(self, spark, sf_dir):
        """q_embed_quantize's codes and MSE re-derived independently in
        numpy (float64, same asymmetric-uint8 formula) must match the
        engine output exactly for codes and to float tolerance for MSE —
        a third implementation guarding the shared Spark/DuckDB
        expression builder against a both-engines-wrong bug."""
        import numpy as np

        rows = (
            registry.QUERIES["q_embed_quantize"](spark, sf_dir)
            .orderBy("vec_id")
            .limit(50)
            .collect()
        )
        import pyarrow.parquet as pq

        tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
        mat = np.stack(
            tbl.sort_values("vec_id")["embedding"]
            .map(lambda v: np.asarray(v, dtype=np.float32).astype(np.float64))
            .to_numpy()
        )
        ids = tbl.sort_values("vec_id")["vec_id"].to_numpy()
        dmin, dmax = mat.min(axis=0), mat.max(axis=0)
        span = dmax - dmin
        t = np.where(span == 0, 0.0, (mat - dmin) / np.where(span == 0, 1, span))
        codes = np.floor(t * 255.0 * (1 + 1e-12) + 0.5).astype(np.int64)
        codes = np.where(span == 0, 0, codes)
        dq = dmin + codes / 255.0 * span
        mse = ((mat - dq) ** 2).sum(axis=1) / mat.shape[1]
        by_id = {int(i): k for k, i in enumerate(ids)}
        for r in rows:
            k = by_id[r["vec_id"]]
            assert r["qsum"] == int(codes[k].sum()), r["vec_id"]
            assert r["qmin"] == int(codes[k].min())
            assert r["qmax"] == int(codes[k].max())
            assert abs(r["mse"] - mse[k]) < 1e-6


class TestKnnClassify:
    def test_matches_numpy_recompute_and_is_nontrivial(self, spark, sf_dir):
        """Full numpy recompute of the 5-NN majority vote (cosine, same
        tiebreaks).  The fixture's labels carry little geometric
        structure (measured accuracy ~12% vs 10% chance), so the
        assertion pins the EVALUATOR — exact per-query agreement with
        numpy and both verdict values occurring — not model quality."""
        from collections import Counter

        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
        ids = np.array(tbl["vec_id"])
        labels = np.array(tbl["label"])
        mat = np.array([np.asarray(v, dtype=np.float64) for v in tbl["embedding"]])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        test_m = (ids % 10 == 0) & (ids < 5000)
        rows = registry.QUERIES["q_knn_classify"](spark, sf_dir).collect()
        assert len(rows) == int(test_m.sum())
        by_id = {r["query_id"]: r for r in rows}
        n_correct = 0
        for qi in np.nonzero(test_m)[0]:
            sims = mat[~test_m] @ mat[qi]
            nbr_ids = ids[~test_m]
            nbr_labels = labels[~test_m]
            order = np.lexsort((nbr_ids, -sims))[:5]
            votes = Counter(int(nbr_labels[i]) for i in order)
            pred = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            r = by_id[int(ids[qi])]
            assert r["true_label"] == int(labels[qi])
            assert r["pred_label"] == pred
            assert r["n_votes"] == votes[pred]
            assert r["correct"] == (pred == int(labels[qi]))
            n_correct += r["correct"]
        assert 0 < n_correct < len(rows), "both verdicts must occur"


class TestKnnClassifyPartitionInvariance:
    def test_result_invariant_under_scan_fragmentation(self, spark, sf_dir):
        """The Arrow scorer reduces per PARTITION (partial top-k) before
        the global rank; its output must be bit-identical however the
        scan happens to split — including partitions holding fewer than
        k train rows (kk = min(k, n) per batch).  Force maximal
        fragmentation via tiny maxPartitionBytes and compare against the
        default scan."""
        from real_time_iot_data_engineering_pipeline_spark import registry

        registry.load_all()
        key = "spark.sql.files.maxPartitionBytes"
        baseline = [
            tuple(r)
            for r in registry.QUERIES["q_knn_classify"](spark, sf_dir).collect()
        ]
        old = spark.conf.get(key)
        spark.conf.set(key, "4096")
        try:
            fragged = [
                tuple(r)
                for r in registry.QUERIES["q_knn_classify"](
                    spark, sf_dir
                ).collect()
            ]
        finally:
            spark.conf.set(key, old)
        assert fragged == baseline


class TestPqCodes:
    def test_matches_numpy_recompute_and_quality(self, spark, sf_dir):
        """numpy recompute of every block assignment and MSE; the
        16-entry min must also beat the single-codeword baseline (always
        encode to seed 0) — the fair sanity check for this fixture's
        isotropic embeddings, where the zero vector is the optimal
        1-entry codebook and nothing data-sampled can beat it."""
        import numpy as np
        import pyarrow.parquet as pq

        from real_time_iot_data_engineering_pipeline_spark import registry

        tbl = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        ).to_pydict()
        ids = np.array(tbl["vec_id"])
        mat = np.array(
            [np.asarray(v, dtype=np.float64) for v in tbl["embedding"]]
        )
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        seeds = mat[ids < 16]
        rows = {
            r["vec_id"]: r
            for r in registry.QUERIES["q_pq_codes"](spark, sf_dir).collect()
        }
        assert len(rows) == len(ids)
        total_mse = 0.0
        for vid, vec in zip(ids, mat):
            r = rows[int(vid)]
            mse = 0.0
            for b in range(4):
                blk = vec[b * 16 : (b + 1) * 16]
                d = ((seeds[:, b * 16 : (b + 1) * 16] - blk) ** 2).sum(axis=1)
                code = int(np.argmin(d))  # argmin takes first on ties
                assert r[f"code{b}"] == code, (vid, b)
                mse += float(d[code])
            assert r["mse"] == pytest.approx(mse / 64.0, abs=2e-6)
            total_mse += mse / 64.0
        single = float(((mat - seeds[0]) ** 2).sum(axis=1).mean()) / 64.0
        assert total_mse / len(ids) < single


class TestTruncationEval:
    def test_matches_numpy_recompute(self, spark, sf_dir):
        import os

        import numpy as np
        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            HALF_DIM,
            N_QUERIES,
        )

        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        ids = emb["vec_id"].to_numpy()
        by_id = {int(v): M[i] for i, v in enumerate(ids)}
        rows = {
            r.query_id: r
            for r in registry.QUERIES["q_embed_truncation_eval"](
                spark, sf_dir
            ).collect()
        }
        assert len(rows) == N_QUERIES
        for qid in range(N_QUERIES):
            qv = by_id[qid]
            cands = [(int(v), by_id[int(v)]) for v in ids if int(v) != qid]

            def top1(d):
                def cos(v):
                    a, b = qv[:d], v[:d]
                    return float(
                        a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
                    )

                return min(cands, key=lambda iv: (-cos(iv[1]), iv[0]))[0]

            r = rows[qid]
            assert r.full_top1 == top1(len(qv))
            assert r.half_top1 == top1(HALF_DIM)
            assert r.agree == (r.full_top1 == r.half_top1)
            assert (r.half_top1_full_rank == 1) == r.agree


class TestBinaryQuantEval:
    def test_matches_numpy_recompute(self, spark, sf_dir):
        import os

        import numpy as np
        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            N_QUERIES,
        )

        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        ids = emb["vec_id"].to_numpy()
        by_id = {int(v): M[i] for i, v in enumerate(ids)}
        bits = {k: v > 0 for k, v in by_id.items()}
        rows = {
            r.query_id: r
            for r in registry.QUERIES["q_embed_binary_eval"](
                spark, sf_dir
            ).collect()
        }
        assert len(rows) == N_QUERIES
        for qid in range(N_QUERIES):
            qv, qb = by_id[qid], bits[qid]
            cands = [int(v) for v in ids if int(v) != qid]

            def cos(n):
                v = by_id[n]
                return float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))

            def ham(n):
                return int((qb != bits[n]).sum())

            full_top1 = min(cands, key=lambda n: (-cos(n), n))
            binary_top1 = min(cands, key=lambda n: (ham(n), n))
            r = rows[qid]
            assert r.full_top1 == full_top1
            assert r.binary_top1 == binary_top1
            assert r.binary_top1_hamming == ham(binary_top1)
            assert r.full_top1_hamming == ham(full_top1)
            assert r.agree == (full_top1 == binary_top1)
            # hamming of the hamming-winner is minimal by definition
            assert r.binary_top1_hamming <= r.full_top1_hamming


class TestClusterPurity:
    def test_matches_numpy_recompute(self, spark, sf_dir):
        import os
        from collections import Counter, defaultdict

        import numpy as np
        import pandas as pd

        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            N_CENTROIDS,
        )

        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        ids = emb["vec_id"].to_numpy()
        labels = dict(zip(ids, emb["label"]))
        seeds = {int(v): M[i] for i, v in enumerate(ids) if v < N_CENTROIDS}
        members = defaultdict(list)
        for i, v in enumerate(ids):
            best = min(
                seeds, key=lambda c: (float(((M[i] - seeds[c]) ** 2).sum()), c)
            )
            members[best].append(labels[v])
        rows = {
            r.cluster_id: r
            for r in registry.QUERIES["q_cluster_purity"](spark, sf_dir).collect()
        }
        assert set(rows) == set(members)
        maj_total = 0
        for cid, labs in members.items():
            counts = Counter(labs)
            maj_label = min(counts, key=lambda l: (-counts[l], l))
            r = rows[cid]
            assert r.n_members == len(labs)
            assert r.majority_label == maj_label
            assert r.n_majority == counts[maj_label]
            assert abs(r.purity - round(counts[maj_label] / len(labs), 4)) < 1e-9
            maj_total += counts[maj_label]
        total = sum(len(v) for v in members.values())
        for r in rows.values():
            assert abs(r.corpus_purity - round(maj_total / total, 4)) < 1e-9


class TestAnisotropy:
    def test_identity_matches_brute_force(self, spark, sf_dir):
        """The sum-vector identity must reproduce the literal all-pairs
        mean cosine (numpy gram matrix) to rounding precision."""
        import os

        import numpy as np
        import pandas as pd

        emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        U = M / np.linalg.norm(M, axis=1, keepdims=True)
        G = U @ U.T
        n = len(U)
        brute = (G.sum() - np.trace(G)) / (n * (n - 1))
        row = registry.QUERIES["q_embed_anisotropy"](spark, sf_dir).head()
        assert row.n == n
        assert row.mean_pairwise_cos == pytest.approx(brute, abs=2e-6)
        norms = np.linalg.norm(M, axis=1)
        assert row.mean_norm == pytest.approx(float(norms.mean()), abs=1e-3)
        assert row.std_norm == pytest.approx(float(norms.std(ddof=1)), abs=1e-3)


class TestPqAdc:
    def test_adc_matches_numpy_recompute(self, spark, sf_dir):
        """Every ADC distance and the resulting top-k must equal a numpy
        recomputation of the Jegou pipeline: encode the corpus against the
        seed codebook per sub-block, build per-query LUTs, score by table
        lookup, rank ascending with neighbor-id ties."""
        import numpy as np
        import pyarrow.parquet as pq_mod

        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            K,
            N_QUERIES,
            PQ_BLOCKS,
            PQ_CODES,
            PQ_SUB,
        )

        tbl = pq_mod.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
        ids = tbl["vec_id"].to_numpy()
        X = np.stack(tbl["embedding"].to_numpy()).astype(np.float64)
        order = np.argsort(ids)
        ids, X = ids[order], X[order]
        seeds = X[ids < PQ_CODES]
        blocks = [slice(b * PQ_SUB, (b + 1) * PQ_SUB) for b in range(PQ_BLOCKS)]
        codes = np.stack(
            [
                np.argmin(
                    ((X[:, None, s] - seeds[None, :, s]) ** 2).sum(-1), axis=1
                )
                for s in blocks
            ],
            axis=1,
        )
        want = {}
        for q in range(N_QUERIES):
            luts = [
                ((X[q, s] - seeds[:, s]) ** 2).sum(-1) for s in blocks
            ]
            adc = sum(luts[b][codes[:, b]] for b in range(PQ_BLOCKS))
            cand = [(adc[i], int(ids[i])) for i in range(len(ids)) if ids[i] != q]
            cand.sort()
            want[q] = cand[:K]
        rows = registry.QUERIES["q_pq_adc_knn"](spark, sf_dir).collect()
        assert len(rows) == N_QUERIES * K
        for r in rows:
            d, nid = want[r.query_id][r.rank - 1]
            assert nid == r.neighbor_id, (r.query_id, r.rank)
            assert abs(d - r.adc_dist) < 1e-3, (r.query_id, r.rank)

    def test_adc_recall_against_exact_knn_is_nontrivial(self, spark, sf_dir):
        """The compressed search must stay a SEARCH: ADC top-K overlaps the
        exact cosine top-K for a meaningful fraction of queries (16-entry
        codebooks on 64 dims are coarse; the floor asserts signal, not
        excellence — q_ann_recall is the precise harness)."""
        exact = {
            (r.query_id, r.neighbor_id)
            for r in registry.QUERIES["q_embed_knn"](spark, sf_dir).collect()
        }
        adc = {
            (r.query_id, r.neighbor_id)
            for r in registry.QUERIES["q_pq_adc_knn"](spark, sf_dir).collect()
        }
        recall = len(exact & adc) / len(exact)
        assert recall > 0.05, f"ADC recall {recall:.3f} indistinguishable from noise"


class TestIvfAdc:
    def _golden(self, sf_dir):
        """Numpy recompute of the full IVFADC pipeline: PQ codes, per-cell
        mean centroids quantized with the biased fround (bit-identical to
        both engines), nprobe cell routing, LUT scoring restricted to the
        probed cells, (dist, neighbor_id)-ranked top-K."""
        import numpy as np
        import pyarrow.parquet as pq_mod

        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            K,
            N_QUERIES,
            NPROBE,
            PQ_BLOCKS,
            PQ_CODES,
            PQ_SUB,
        )

        tbl = pq_mod.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
        ids = tbl["vec_id"].to_numpy()
        X = np.stack(tbl["embedding"].to_numpy()).astype(np.float64)
        labels = tbl["label"].to_numpy()
        order = np.argsort(ids)
        ids, X, labels = ids[order], X[order], labels[order]
        seeds = X[ids < PQ_CODES]
        blocks = [slice(b * PQ_SUB, (b + 1) * PQ_SUB) for b in range(PQ_BLOCKS)]
        codes = np.stack(
            [
                np.argmin(((X[:, None, s] - seeds[None, :, s]) ** 2).sum(-1), axis=1)
                for s in blocks
            ],
            axis=1,
        )
        cells = np.unique(labels)
        cent = {
            c: np.floor(X[labels == c].mean(axis=0) * 1e6 * (1 + 1e-12) + 0.5) / 1e6
            for c in cells
        }
        want = {}
        probes = {}
        for q in range(N_QUERIES):
            cd = sorted(
                (float(((X[q] - cent[c]) ** 2).sum()), int(c)) for c in cells
            )
            probed = {c for _, c in cd[:NPROBE]}
            probes[q] = probed
            luts = [((X[q, s] - seeds[:, s]) ** 2).sum(-1) for s in blocks]
            adc = sum(luts[b][codes[:, b]] for b in range(PQ_BLOCKS))
            cand = [
                (adc[i], int(ids[i]))
                for i in range(len(ids))
                if ids[i] != q and int(labels[i]) in probed
            ]
            cand.sort()
            want[q] = cand[:K]
        return want, probes

    def test_ivfadc_equals_flat_adc_restricted_to_probed_cells(
        self, spark, sf_dir
    ):
        """The restriction golden: IVFADC's output must
        equal the flat ADC ranking (q_pq_adc_knn's scoring, recomputed in
        numpy) restricted to the query's nprobe nearest cells — i.e. cell
        routing changes WHICH codes are scanned, never how they score."""
        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            K,
            N_QUERIES,
        )

        want, _ = self._golden(sf_dir)
        rows = registry.QUERIES["q_ivf_adc_knn"](spark, sf_dir).collect()
        assert len(rows) == N_QUERIES * K
        for r in rows:
            d, nid = want[r.query_id][r.rank - 1]
            assert nid == r.neighbor_id, (r.query_id, r.rank)
            assert abs(d - r.adc_dist) < 1e-3, (r.query_id, r.rank)

    def test_ivfadc_results_lie_in_probed_cells_only(self, spark, sf_dir):
        """Membership invariant (the IVF analogue of q_embed_ivf's cell
        test): every returned neighbor's label is one of its query's
        nprobe probed cells."""
        import pyarrow.parquet as pq_mod

        _, probes = self._golden(sf_dir)
        tbl = pq_mod.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
        lab = dict(zip(tbl["vec_id"], tbl["label"]))
        for r in registry.QUERIES["q_ivf_adc_knn"](spark, sf_dir).collect():
            assert int(lab[r.neighbor_id]) in probes[r.query_id], (
                r.query_id,
                r.neighbor_id,
            )

    def test_ivfadc_recall_floor_vs_exact(self, spark, sf_dir):
        """With nprobe=2 of ~10 label cells that carry little geometric
        structure, IVFADC keeps roughly nprobe/nlist of flat ADC's hits —
        the floor asserts the probe still finds signal (>0 overlap with
        the exact cosine top-K), the restriction golden above asserts the
        mechanism exactly."""
        exact = _pairs(registry.QUERIES["q_embed_knn"](spark, sf_dir))
        ivf = _pairs(registry.QUERIES["q_ivf_adc_knn"](spark, sf_dir))
        assert len(exact & ivf) > 0, "IVFADC found nothing the exact search did"


class TestIVFADCResidual:
    """Goldens for q_ivfadc_residual_knn (Jegou §V with by_residual=true):
    a full numpy recompute of the residual encode/route/score path, the
    probed-cell membership invariant, and the pin for the operator's
    reason to exist — the residual codebook quantizes the corpus with
    LOWER total block error than the raw-space codebook."""

    def _residual_parts(self, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq_mod

        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            PQ_BLOCKS,
            PQ_CODES,
            PQ_SUB,
        )

        tbl = pq_mod.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
        ids = tbl["vec_id"].to_numpy()
        X = np.stack(tbl["embedding"].to_numpy()).astype(np.float64)
        labels = tbl["label"].to_numpy()
        order = np.argsort(ids)
        ids, X, labels = ids[order], X[order], labels[order]
        cells = np.unique(labels)
        cent = {
            c: np.floor(X[labels == c].mean(axis=0) * 1e6 * (1 + 1e-12) + 0.5)
            / 1e6
            for c in cells
        }
        R = X - np.stack([cent[c] for c in labels])
        blocks = [slice(b * PQ_SUB, (b + 1) * PQ_SUB) for b in range(PQ_BLOCKS)]
        return ids, X, R, labels, cells, cent, blocks, PQ_CODES, PQ_BLOCKS

    def _golden(self, sf_dir):
        import numpy as np

        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            K,
            N_QUERIES,
            NPROBE,
        )

        (ids, X, R, labels, cells, cent, blocks, PQ_CODES, PQ_BLOCKS) = (
            self._residual_parts(sf_dir)
        )
        seeds = R[ids < PQ_CODES]
        codes = np.stack(
            [
                np.argmin(
                    ((R[:, None, s] - seeds[None, :, s]) ** 2).sum(-1), axis=1
                )
                for s in blocks
            ],
            axis=1,
        )
        want, probes = {}, {}
        for q in range(N_QUERIES):
            cd = sorted(
                (float(((X[q] - cent[c]) ** 2).sum()), int(c)) for c in cells
            )
            probed = {c for _, c in cd[:NPROBE]}
            probes[q] = probed
            cand = []
            for c in probed:
                qr = X[q] - cent[c]
                luts = [((qr[s] - seeds[:, s]) ** 2).sum(-1) for s in blocks]
                for i in range(len(ids)):
                    if ids[i] == q or int(labels[i]) != c:
                        continue
                    cand.append(
                        (
                            float(
                                sum(
                                    luts[b][codes[i, b]]
                                    for b in range(PQ_BLOCKS)
                                )
                            ),
                            int(ids[i]),
                        )
                    )
            cand.sort()
            want[q] = cand[:K]
        return want, probes

    def test_residual_ivfadc_matches_numpy_recompute(self, spark, sf_dir):
        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            K,
            N_QUERIES,
        )

        want, _ = self._golden(sf_dir)
        rows = registry.QUERIES["q_ivfadc_residual_knn"](spark, sf_dir).collect()
        assert len(rows) == N_QUERIES * K
        for r in rows:
            d, nid = want[r.query_id][r.rank - 1]
            assert nid == r.neighbor_id, (r.query_id, r.rank)
            assert abs(d - r.adc_dist) < 1e-3, (r.query_id, r.rank)

    def test_residual_results_lie_in_probed_cells_only(self, spark, sf_dir):
        import pyarrow.parquet as pq_mod

        _, probes = self._golden(sf_dir)
        tbl = pq_mod.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
        lab = dict(zip(tbl["vec_id"], tbl["label"]))
        for r in registry.QUERIES["q_ivfadc_residual_knn"](
            spark, sf_dir
        ).collect():
            assert int(lab[r.neighbor_id]) in probes[r.query_id], (
                r.query_id,
                r.neighbor_id,
            )

    def test_residual_codebook_quantizes_tighter_than_raw(self, sf_dir):
        """The point of by_residual=true: residuals concentrate around the
        origin, so the same seed-derived codebook covers them with lower
        total block quantization error than the raw vectors — if this
        flips, residual encoding is buying nothing and the operator's
        premise is broken."""
        (ids, X, R, _, _, _, blocks, PQ_CODES, _) = self._residual_parts(
            sf_dir
        )

        def qerr(M):
            seeds = M[ids < PQ_CODES]
            tot = 0.0
            for s in blocks:
                d = ((M[:, None, s] - seeds[None, :, s]) ** 2).sum(-1)
                tot += d.min(axis=1).sum()
            return tot

        assert qerr(R) < qerr(X)


class TestSemDeDup:
    """q_semdedup semantics against an independent numpy recompute of the
    clustering + keep policy (banding can only MISS candidate pairs,
    never invent them, so the engine's drops must be SOUND against the
    exhaustive in-cluster neighbor graph, and recall over the planted
    same-cluster twins must clear the q_ann_recall-style floor)."""

    @staticmethod
    def _numpy_model(sf_dir):
        import numpy as np
        import pandas as pd
        import os

        from real_time_iot_data_engineering_pipeline_spark.functions.vectors import (
            DIM,
        )
        from real_time_iot_data_engineering_pipeline_spark.queries.similarity import (
            SEMDEDUP_K,
        )

        df = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
        base = {
            int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in df.itertuples()
        }
        vecs = dict(base)
        for vid, v in base.items():
            if vid % 25 == 0:  # the planted-twin convention
                w = v.copy()
                w[0] += np.float32(0.05)  # float32 add, as both engines do
                vecs[vid + 10000] = w
        ids = sorted(vecs)
        X = np.stack([vecs[i] for i in ids])
        seeds = np.stack([vecs[i] for i in range(SEMDEDUP_K)])
        d2 = ((X[:, None, :] - seeds[None, :, :]) ** 2).sum(-1)
        # lexicographic (dist, seed_id) min == argmin with first-index ties
        cluster = d2.argmin(axis=1)
        cent = {}
        for k in range(SEMDEDUP_K):
            m = X[cluster == k]
            if len(m):
                # 6 dp biased fround, as both engines quantize centroids
                cent[k] = np.floor(
                    m.mean(axis=0) * 1e6 * (1 + 1e-12) + 0.5
                ) / 1e6
        return ids, X, cluster, cent

    def test_drops_sound_and_planted_twins_resolved(self, spark, sf_dir):
        import numpy as np

        rows = {
            int(r.vec_id): r
            for r in registry.QUERIES["q_semdedup"](spark, sf_dir).collect()
        }
        ids, X, cluster, cent = self._numpy_model(sf_dir)
        idx = {v: i for i, v in enumerate(ids)}
        nrm = np.linalg.norm(X, axis=1)

        def fr6(x):
            return np.floor(x * 1e6 * (1 + 1e-12) + 0.5) / 1e6

        cos_cent = np.array(
            [
                fr6(
                    X[i] @ cent[cluster[i]]
                    / (nrm[i] * np.linalg.norm(cent[cluster[i]]))
                )
                for i in range(len(ids))
            ]
        )
        # engine clustering matches the recompute
        for v, r in rows.items():
            assert r.cluster_id == cluster[idx[v]], v

        # soundness: every dropped vector has an exhaustive in-cluster
        # above-threshold neighbor that is strictly preferred
        dropped = [v for v, r in rows.items() if not r.keep]
        assert dropped, "planted twins must produce drops"
        for v in dropped:
            i = idx[v]
            mates = [
                j
                for j in range(len(ids))
                if j != i and cluster[j] == cluster[i]
                and fr6(X[i] @ X[j] / (nrm[i] * nrm[j])) > 0.95
            ]
            assert any(
                (cos_cent[j], ids[j]) < (cos_cent[i], ids[i]) for j in mates
            ), f"{v} dropped without a preferred exhaustive neighbor"

        # recall over planted SAME-CLUSTER twins: >= 90% found (banded),
        # and every found pair keeps exactly one member
        same = [
            (v, v + 10000)
            for v in ids
            if v < 10000 and v % 25 == 0 and (v + 10000) in idx
            and cluster[idx[v]] == cluster[idx[v + 10000]]
        ]
        assert same, "fixture must plant same-cluster twins"
        found = [
            p for p in same if rows[p[0]].n_dups > 0 and rows[p[1]].n_dups > 0
        ]
        assert len(found) >= 0.9 * len(same), (len(found), len(same))
        for a, b in found:
            assert rows[a].keep != rows[b].keep, (a, b)


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
