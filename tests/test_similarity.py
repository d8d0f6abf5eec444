"""Similarity-search tests: exact top-k vs approximate variants (LSH,
IVF) — recall behavior and the exactness limit."""

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def exact(spark, emb):
    from igtdetect_spark.operators.similarity import cosine_topk

    return {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, [0, 1, 2, 3, 4], k=3).collect()
    }


def test_exact_topk_shape(spark, emb):
    from igtdetect_spark.operators.similarity import cosine_topk

    rows = cosine_topk(emb, [0, 1, 2], k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3]
        sims = [r["cos_sim_e6"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_ivf_full_probe_is_exact(spark, emb, exact):
    """Probing every list = brute force (the approximation is only the
    list pruning)."""
    from igtdetect_spark.operators.similarity import ivf_ann

    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann(emb, [0, 1, 2, 3, 4], k=3, n_lists=8, n_probe=8).collect()
    }
    assert got == exact


def test_ivf_probe_recall_curve(spark, emb, exact):
    """Recall rises monotonically with n_probe (these synthetic
    embeddings are near-uniform, so coarse pruning is maximally hostile —
    measured curve at k=3: 0.33 → 0.73 → 1.0 for probe 2/4/8)."""
    from igtdetect_spark.operators.similarity import ivf_ann

    def recall(p):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_ann(
                emb, [0, 1, 2, 3, 4], k=3, n_lists=8, n_probe=p
            ).collect()
        }
        return len(got & exact) / len(exact)

    r2, r4 = recall(2), recall(4)
    assert r2 >= 0.25
    assert r4 >= r2
    assert r4 >= 0.6


def test_lsh_ann_overlap(spark, emb, exact):
    from igtdetect_spark.operators.similarity import lsh_bucketed_ann

    got = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_ann(emb, [0, 1, 2, 3, 4], k=3, n_planes=4).collect()
    }
    # every LSH result is a genuine vector pair; overlap with exact top-k
    # is nonzero (buckets are coarse at 4 planes)
    assert got
    assert len(got & exact) >= 1


def test_ivf_many_lists_codegen(spark, emb, exact):
    """n_lists far above the old unrolled-WHEN codegen limit (~32): the
    array-literal argmin assignment must plan and run; full probe stays
    exact."""
    from igtdetect_spark.operators.similarity import ivf_ann

    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann(
            emb, [0, 1, 2, 3, 4], k=3, n_lists=64, n_probe=64
        ).collect()
    }
    assert got == exact


def test_banded_neardup_recall_superset_of_single_band(spark, emb):
    """Banding exists to buy recall: the union-over-bands candidate set
    must recover at least the pairs a single band of the same planes
    finds, and every emitted pair must clear the exact-cosine threshold
    (rescore is exact, so no false positives ever)."""
    from igtdetect_spark.operators.similarity import embedding_neardup_pairs

    single = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(
            emb, threshold=0.35, n_bands=1, band_planes=4
        ).collect()
    }
    banded = embedding_neardup_pairs(
        emb, threshold=0.35, n_bands=4, band_planes=4
    ).collect()
    banded_pairs = {(r["vec_a"], r["vec_b"]) for r in banded}
    assert single <= banded_pairs
    assert all(r["cos_sim_e6"] >= 350_000 for r in banded)


class TestSemDedup:
    """SemDeDup: cluster, gate pairs on cosine, keep the outlier."""

    def test_matches_python_model(self, spark):
        import math

        import numpy as np

        from igtdetect_spark.operators.similarity import (
            seeded_centroids, semdedup,
        )

        dim, n = 8, 40
        rng = np.random.RandomState(11)
        X = rng.standard_normal((n, dim))
        # plant near-duplicates: copies with small jitter
        for a, b in [(0, 1), (2, 3), (10, 20)]:
            X[b] = X[a] + 0.01 * rng.standard_normal(dim)
        C = seeded_centroids(4, dim, seed=5)
        thr = 0.9

        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cl = d2.argmin(axis=1)
        d2_e6 = [math.floor(d2[i, cl[i]] * 1e6) for i in range(n)]
        removed = {}
        for i in range(n):
            for j in range(i + 1, n):
                if cl[i] != cl[j]:
                    continue
                sim = math.floor(
                    float(X[i] @ X[j])
                    / (np.linalg.norm(X[i]) * np.linalg.norm(X[j]))
                    * 1e6
                )
                if sim < thr * 1e6:
                    continue
                if d2_e6[i] > d2_e6[j]:
                    lose = j
                elif d2_e6[j] > d2_e6[i]:
                    lose = i
                else:
                    lose = max(i, j)
                removed[lose] = max(removed.get(lose, -10**9), sim)
        want = {
            i: (int(cl[i]), i not in removed, removed.get(i))
            for i in range(n)
        }

        vecs = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        got = {
            r["vec_id"]: (r["cluster_id"], r["kept"], r["dup_sim_e6"])
            for r in semdedup(
                vecs, threshold=thr, centroids=C
            ).collect()
        }
        assert got == want
        # the planted dups actually triggered removals
        assert sum(1 for _, k, _ in got.values() if not k) >= 3

    def test_keeps_the_outlier(self, spark):
        import numpy as np

        from igtdetect_spark.operators.similarity import semdedup

        # one centroid at origin: v_far is the same direction as v_near
        # but farther out — cosine 1.0, so one of them must go, and the
        # paper's rule keeps the FARTHER one regardless of id order.
        C = np.zeros((1, 4))
        vecs = spark.createDataFrame(
            [(0, [2.0, 0.0, 0.0, 0.0]),   # far  → kept
             (1, [1.0, 0.0, 0.0, 0.0]),   # near → removed
             (2, [0.0, 3.0, 0.0, 0.0]),   # far  → kept (id AFTER its dup)
             (3, [0.0, 0.0, 0.0, 0.0])],  # zero-ish, unrelated
            "vec_id long, embedding array<float>",
        )
        vecs = vecs.filter("vec_id != 3").union(
            spark.createDataFrame(
                [(3, [0.0, 1.5, 0.0, 0.0])],
                "vec_id long, embedding array<float>",
            )
        )
        got = {
            r["vec_id"]: r["kept"]
            for r in semdedup(vecs, threshold=0.99,
                              centroids=C).collect()
        }
        assert got == {0: True, 1: False, 2: True, 3: False}

    def test_trained_quantizer_same_path(self, spark):
        import numpy as np

        from igtdetect_spark.operators.similarity import (
            kmeans_centroids, semdedup,
        )

        rng = np.random.RandomState(2)
        X = rng.standard_normal((60, 8))
        X[1] = X[0] + 0.001
        vecs = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(60)],
            "vec_id long, embedding array<float>",
        )
        C = kmeans_centroids(vecs, k=3, iters=3)
        rows = semdedup(vecs, threshold=0.98, centroids=C).collect()
        assert len(rows) == 60
        assert {r["cluster_id"] for r in rows} <= {0, 1, 2}
        got = {r["vec_id"]: r["kept"] for r in rows}
        assert got[0] != got[1]  # the planted dup pair lost one member

    def test_plan_shape(self, spark):
        from igtdetect_spark.operators.similarity import (
            seeded_centroids, semdedup,
        )

        df = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        plan = str(
            semdedup(df, threshold=0.35,
                     centroids=seeded_centroids(8, 64))
            ._jdf.queryExecution().executedPlan()
        )
        # pair join must be an equi-join on cluster_id, never cartesian
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


class TestHardNegatives:
    """Label-excluded nearest neighbors."""

    def test_positives_never_rank_and_order_is_by_sim(self, spark):
        from igtdetect_spark.operators.similarity import hard_negatives

        # query 0 (label 1): vec 1 is its near-duplicate SAME-label
        # positive and must never appear; vec 2 (opposite label, close)
        # must outrank vec 3 (opposite label, orthogonal-ish)
        rows = [
            (0, [1.0, 0.0, 0.0], 1),
            (1, [0.99, 0.1, 0.0], 1),    # positive — excluded
            (2, [0.9, 0.2, 0.0], 2),     # hard negative
            (3, [0.0, 1.0, 0.0], 2),     # easy negative
            (4, [0.8, 0.0, 0.1], 1),     # same label — excluded
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        got = hard_negatives(emb, query_ids=[0], k=5).collect()
        ids = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
        assert ids == [2, 3]
        assert all(r["neighbor_label"] != r["query_label"] for r in got)
        assert got[0]["query_label"] == 1
