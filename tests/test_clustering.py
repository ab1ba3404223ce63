"""Distributed k-means: convergence, determinism, label recovery, and
the trained-quantizer IVF path."""

from __future__ import annotations

import numpy as np
import pytest

from citegraph_spark.functions import clustering, similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_kmeans_partitions_all_vectors(spark, emb):
    cents, assign = clustering.kmeans_fit(emb, k=8, max_iter=5)
    assert cents.shape == (8, 64)
    rows = assign.collect()
    assert len(rows) == emb.count()
    assert all(0 <= r["cell"] < 8 and r["sq_dist"] >= 0.0 for r in rows)


def test_kmeans_iterations_reduce_inertia(spark, emb):
    def inertia(iters: int) -> float:
        _, assign = clustering.kmeans_fit(emb, k=8, max_iter=iters, tol=0.0)
        return assign.groupBy().sum("sq_dist").first()[0]

    # Lloyd's is monotone non-increasing in inertia
    assert inertia(4) <= inertia(1) + 1e-6


def test_kmeans_beats_trivial_clustering(spark, emb):
    """Fitted k=10 inertia must beat the k=1 (global-mean) inertia by at
    least the amount k-means can extract from near-uniform data. (The
    synthetic embeddings are ~uniform in 64-d — a perfect nearest-label-
    centroid classifier scores only ~0.37 — so label recovery is not a
    valid expectation, and the theoretical variance reduction for k
    clusters in d dims is only ~1 - k^(2/d) ≈ 7 %.)"""
    def total_inertia(k: int) -> float:
        _, assign = clustering.kmeans_fit(emb, k=k, max_iter=6)
        return assign.groupBy().sum("sq_dist").first()[0]

    assert total_inertia(10) < 0.95 * total_inertia(1)


def test_kmeans_deterministic_under_repartition(spark, emb):
    a, _ = clustering.kmeans_fit(emb, k=6, max_iter=3)
    b, _ = clustering.kmeans_fit(emb.repartition(7), k=6, max_iter=3)
    # same seeds, same assignments; only fp summation order may differ
    assert np.allclose(a, b, atol=1e-9)


def test_ivf_trained_quantizer_recall(spark, emb):
    sub = emb.limit(200)
    bf = {
        r["vec_id"]: r["neighbor_id"]
        for r in similarity.cosine_topk_bruteforce(sub, k=1).collect()
    }
    cents, _ = clustering.kmeans_fit(sub, k=8, max_iter=4)
    ivf = {
        r["vec_id"]: r["neighbor_id"]
        for r in similarity.ivf_topk(
            sub, k=1, n_cells=8, n_probe=2, centroids=cents
        ).collect()
    }
    hits = sum(1 for v, n in bf.items() if ivf.get(v) == n)
    assert hits / len(bf) >= 0.3, f"trained-IVF recall too low: {hits}/{len(bf)}"


def test_pq_topk_recall_vs_bruteforce(spark, emb):
    sub = emb.limit(200)
    bf = {
        r["vec_id"]: r["neighbor_id"]
        for r in similarity.cosine_topk_bruteforce(sub, k=1).collect()
    }
    pq = {
        r["vec_id"]: r["neighbor_id"]
        for r in similarity.pq_topk(sub, k=1, shortlist=32).collect()
    }
    # ADC top-32 shortlist + exact rerank: the true top-1 must appear in
    # the shortlist for most queries even on hard (near-random) vectors
    hits = sum(1 for v, n in bf.items() if pq.get(v) == n)
    assert hits / len(bf) >= 0.5, f"PQ recall too low: {hits}/{len(bf)}"


def test_pq_codes_shape_and_determinism(spark, emb):
    from citegraph_spark.functions.similarity import (
        _corpus_matrix,
        _pq_codebooks,
        _pq_encode_matrix,
    )

    sub = emb.limit(100)
    books1 = _pq_codebooks(sub, 16, 16, "vec_id", "embedding")
    books2 = _pq_codebooks(sub.repartition(5), 16, 16, "vec_id", "embedding")
    assert np.allclose(books1, books2)
    _, mat = _corpus_matrix(sub, "vec_id", "embedding")
    codes = _pq_encode_matrix(mat, books1)
    assert codes.shape == (100, 16) and codes.dtype == np.uint8
    assert codes.max() < 16


def test_corpus_matrix_equals_the_row_by_row_build(spark, emb):
    """`_corpus_matrix` reads the corpus as one Arrow table; its ids and
    normalized matrix equal, bit for bit, the Row-by-Row build it
    replaced, including a NULL element (NaN in both) and a zero vector."""
    from citegraph_spark.functions.similarity import _corpus_matrix

    corpus = emb.select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(10**6, [0.0] * 64), (10**6 + 1, [None] + [0.5] * 63)], corpus.schema
    )
    corpus = corpus.unionByName(extra)
    ids, mat = _corpus_matrix(corpus, "vec_id", "embedding")

    rows = corpus.collect()
    ref_ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    assert np.array_equal(ids, ref_ids)
    assert np.array_equal(mat, m / norms, equal_nan=True)
    assert np.isnan(mat[-1]).all() and not mat[-2].any()


def test_label_knn_agreement_properties(spark):
    from citegraph_spark.plans.entry_queries import QUERIES

    rows = QUERIES["label_knn_agreement"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_same"] <= 5
        assert abs(r["agreement"] - round(r["n_same"] / 5.0, 2)) < 1e-9
    # the synthetic labels are UNCORRELATED with the embeddings
    # (verified: same-label and cross-label mean cosine are equal), so a
    # correct noise screen must report agreement AT the random baseline
    # sum(p_i^2) — that calibration is the property under test; informative
    # labels would push it far above
    from collections import Counter

    mean_agree = sum(r["agreement"] for r in rows) / len(rows)
    freq = Counter(r["label"] for r in rows)
    baseline = sum((c / len(rows)) ** 2 for c in freq.values())
    assert abs(mean_agree - baseline) < 0.05


def test_psi_terms_nonnegative_and_bounded(spark):
    from citegraph_spark.plans.entry_queries import QUERIES

    rows = QUERIES["dq_psi_drift"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    for r in rows:
        # (p-q)ln(p/q) >= 0 for all p,q > 0 — PSI terms are individually
        # nonnegative by construction
        assert r["psi_term"] >= 0
        assert 0 < r["p_ref"] <= 1 and 0 < r["p_cur"] <= 1


def test_feature_hashing_preserves_token_mass(spark):
    import re
    from collections import Counter

    from citegraph_spark.plans.entry_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["feature_hashing"](spark, sf).collect()
    mass = Counter()
    for r in rows:
        assert 0 <= r["slot"] < 32
        mass[r["doc_id"]] += r["n"]
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    for d in docs:
        n_tokens = len([t for t in re.split(r"[^a-z0-9]+", d["text"].lower()) if t])
        assert mass[d["doc_id"]] == n_tokens
