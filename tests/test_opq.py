"""OPQ — the learned rotation composed with PQ (operators.rotation.
fit_opq_rotation + the ``rotation=`` seam through operators.pq; Ge et
al. 2013 "Optimized Product Quantization", parametric variant): basis
laws, the eigenvalue-allocation balance property, planted-anisotropy
gains, and single/batch/store equality with rotation in the loop."""

from __future__ import annotations

import math

import pytest

from ydb_vector_search_demo_spark.operators import ann, pq
from ydb_vector_search_demo_spark.operators import rotation as rot
from ydb_vector_search_demo_spark.operators.ann import (
    VectorStore,
    _IvfRouter,
    _TreeRouter,
)
from ydb_vector_search_demo_spark.operators.knn import knn_scores

DIM = 16
M = 4


def _aniso_corpus(spark, n=240, seed=7):
    """Deterministic anisotropic corpus: coordinate i carries variance
    ~(i+1)² through a fixed mixing, so the covariance is far from
    isotropic and correlated across the PQ subspace split — the regime
    OPQ exists for."""
    rows = []
    rnd = __import__("random").Random(seed)
    for i in range(n):
        z = [rnd.gauss(0.0, (j + 1) / 4.0) for j in range(DIM)]
        # mix adjacent coords so raw subspaces are correlated
        v = [z[j] + 0.8 * z[(j + 5) % DIM] + 0.5 * z[(j + 11) % DIM]
             for j in range(DIM)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


@pytest.fixture(scope="module")
def corpus(spark):
    df = _aniso_corpus(spark)
    df.persist().count()
    yield df
    df.unpersist()


def test_opq_rotation_is_orthonormal_row_permutation_of_pca(spark, corpus):
    import numpy as np

    R_opq = np.array(rot.fit_opq_rotation(corpus, m=M, sample=240))
    R_pca = np.array(rot.fit_pca_rotation(corpus, sample=240))
    assert np.abs(R_opq @ R_opq.T - np.eye(DIM)).max() < 1e-9
    # same rows, permuted (eigenvalue allocation only reorders)
    pca_rows = {tuple(np.round(r, 9)) for r in R_pca}
    opq_rows = {tuple(np.round(r, 9)) for r in R_opq}
    assert pca_rows == opq_rows
    assert not np.allclose(R_opq, R_pca)  # allocation actually permutes


def test_eigenvalue_allocation_balances_subspace_variance(spark, corpus):
    """The allocation objective: the spread of per-subspace log-variance
    products must shrink vs the raw variance-descending PCA order."""
    import numpy as np

    vals, _ = rot._pca_eig(corpus, 240, 42, "vec_id", "embedding")
    cap = DIM // M

    def spread(order):
        sums = [
            sum(math.log(max(vals[i], 1e-12)) for i in order[b * cap:(b + 1) * cap])
            for b in range(M)
        ]
        return max(sums) - min(sums)

    # reconstruct the allocation's bucket order from the rotation rows
    R_pca = rot.fit_pca_rotation(corpus, sample=240)
    R_opq = rot.fit_opq_rotation(corpus, m=M, sample=240)
    idx = {tuple(np.round(r, 9)): i for i, r in enumerate(R_pca)}
    order = [idx[tuple(np.round(r, 9))] for r in R_opq]
    assert spread(order) < spread(list(range(DIM)))


def test_opq_beats_pq_quantization_mse_on_anisotropic_corpus(spark, corpus):
    opq = rot.fit_opq_rotation(corpus, m=M, sample=240)
    books_pq = pq.train_pq_codebooks(corpus, DIM, m=M, k_star=8)
    books_opq = pq.train_pq_codebooks(corpus, DIM, m=M, k_star=8, rotation=opq)
    mse_pq = pq.pq_quantization_mse(corpus, books_pq)
    mse_opq = pq.pq_quantization_mse(corpus, books_opq, rotation=opq)
    # decisive on planted anisotropy, not a coin flip
    assert mse_opq < mse_pq * 0.95, (mse_opq, mse_pq)


def test_opq_report_two_rows_and_recall_law(spark, corpus):
    qv = [0.5 * math.cos(i * 0.9) for i in range(DIM)]
    rep = {
        r["variant"]: r
        for r in pq.opq_recall(
            spark, corpus, qv, dim=DIM, m=M, k_star=8, k=5, rescore=8,
            sample=240,
        ).collect()
    }
    assert set(rep) == {"pq", "opq"}
    assert rep["opq"]["quantization_mse"] < rep["pq"]["quantization_mse"]
    assert rep["opq"]["recall_adc_rescored"] >= rep["pq"]["recall_adc_rescored"] - 0.2


def test_opq_search_rescore_exactness_and_batch_equality(spark, corpus):
    """With rotation in the loop: (a) a rescore pool covering the
    corpus makes the final top-k EXACTLY the float KNN (the rescore
    exactness law rotation must not break); (b) the batched probe is
    per-query row-identical to the single-query loop."""
    opq = rot.fit_opq_rotation(corpus, m=M, sample=240)
    books = pq.train_pq_codebooks(corpus, DIM, m=M, k_star=8, rotation=opq)
    encoded = ann.store_rows(corpus, codecs=(pq.PqCodec(books, rotation=opq),))
    encoded.persist().count()
    store = VectorStore(
        encoded, codec=pq.PqCodec(books, rotation=opq), embeddings=corpus
    )
    try:
        qvs = [
            [math.sin(i * 0.7 + s) for i in range(DIM)] for s in range(3)
        ]
        # (a) exactness at corpus-covering pool
        exact = [
            (r[0], round(r[1], 9))
            for r in knn_scores(corpus, qvs[0], 5, "cosine").collect()
        ]
        got = [
            (r[0], round(r[1], 9))
            for r in store.search(qvs[0], k=5, rescore=48).collect()
        ]
        assert got == exact
        # (b) single vs batch equality at a tight pool
        singles = {
            qid: [
                (r["vec_id"], round(r["score"], 9))
                for r in store.search(qv, k=5, rescore=4).collect()
            ]
            for qid, qv in enumerate(qvs)
        }
        queries = spark.createDataFrame(
            [(i, v) for i, v in enumerate(qvs)],
            "query_id BIGINT, query_vec ARRAY<DOUBLE>",
        )
        batch = store.batch_search(queries, k=5, rescore=4).collect()
        got_b: dict = {}
        for r in batch:
            got_b.setdefault(r["query_id"], []).append(
                (r["vec_id"], round(r["score"], 9))
            )
        assert got_b == singles
    finally:
        encoded.unpersist()


def test_ivfpq_rotation_single_batch_store_equality(spark, corpus, tmp_path):
    """OPQ through the residual IVF-PQ path: rotated-residual codebooks,
    rotated store encode, per-cell rotated LUTs — the batched probe of
    the written store equals the single-query probe per query."""
    from ydb_vector_search_demo_spark.operators.ann import build_ivf_index

    index = build_ivf_index(corpus, k_clusters=4, seed=11)
    opq = rot.fit_opq_rotation(corpus, m=M, sample=240)
    books = pq.train_ivfpq_codebooks(index, DIM, m=M, k_star=8, rotation=opq)
    path = str(tmp_path / "ivfpq_opq")
    ann.write_store(
        index.assigned, path, index.store.router,
        (pq.PqCodec(books, index.centroids, opq),),
    )
    store = VectorStore(
        spark.read.parquet(path), _IvfRouter(index.centroids),
        pq.PqCodec(books, index.centroids, opq), corpus,
    )
    qvs = [[math.cos(i * 0.5 + s) for i in range(DIM)] for s in range(2)]
    singles = {
        qid: [
            (r["vec_id"], round(r["score"], 9))
            for r in store.search(qv, k=5, nprobe=2, rescore=4).collect()
        ]
        for qid, qv in enumerate(qvs)
    }
    queries = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvs)],
        "query_id BIGINT, query_vec ARRAY<DOUBLE>",
    )
    batch = store.batch_search(queries, k=5, nprobe=2, rescore=4).collect()
    got_b: dict = {}
    for r in batch:
        got_b.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["score"], 9))
        )
    assert got_b == singles
    # encode determinism: re-encoding the store's source equals the store
    back = spark.read.parquet(path)
    fresh = ann.store_rows(
        index.assigned, index.store.router,
        (pq.PqCodec(books, index.centroids, opq),),
    )
    a = sorted((r["vec_id"], tuple(r["pq_codes"])) for r in back.collect())
    b = sorted((r["vec_id"], tuple(r["pq_codes"])) for r in fresh.collect())
    assert a == b


def test_refit_pq_threads_rotation_through_gate_and_reencode(spark, corpus, tmp_path):
    """The maintenance loop with an OPQ store: baseline in the rotated
    space, a planted rotated-space drift batch crosses the gate, the
    refit re-trains and re-encodes WITH the same basis."""
    import pyspark.sql.functions as F

    opq = rot.fit_opq_rotation(corpus, m=M, sample=240)
    books = pq.train_pq_codebooks(corpus, DIM, m=M, k_star=8, rotation=opq)
    baseline = pq.pq_quantization_mse(corpus, books, rotation=opq)
    healthy = pq.refit_pq(
        spark, corpus, books, baseline, str(tmp_path / "v2"), dim=DIM, m=M,
        k_star=8, rotation=opq, drift_batch=corpus.limit(50),
    )
    assert healthy is None  # in-distribution batch: no refit, no write
    drifted = corpus.select(
        "vec_id",
        F.expr("transform(embedding, x -> x * 3.0 + 5.0)").alias("embedding"),
    )
    out = pq.refit_pq(
        spark, corpus.unionByName(drifted), books, baseline,
        str(tmp_path / "v3"), dim=DIM, m=M, k_star=8, rotation=opq,
        drift_batch=drifted,
    )
    assert out is not None
    new_books, new_baseline = out
    post = pq.pq_drift_report(
        spark, drifted, new_books, new_baseline, rotation=opq
    ).collect()[0]
    assert not post.refit_recommended  # loop observably closed


def test_tree_pq_rotation_write_and_probe_equality(spark, corpus, tmp_path):
    """OPQ on the tree companion layout: rotated-codebook store via
    ann.write_store with pq.PqCodec(rotation=), single probe == batch
    probe per query."""
    from ydb_vector_search_demo_spark.operators.ann import build_kmeans_tree_index

    index = build_kmeans_tree_index(corpus, k_top=2, k_sub=2, seed=3)
    opq = rot.fit_opq_rotation(corpus, m=M, sample=240)
    books = pq.train_pq_codebooks(corpus, DIM, m=M, k_star=8, rotation=opq)
    path = str(tmp_path / "tree_pq_opq")
    ann.write_store(
        index.assigned, path, index.store.router, (pq.PqCodec(books, rotation=opq),),
    )
    store = VectorStore(
        spark.read.parquet(path),
        _TreeRouter(index.centroids_top, index.centroids_sub),
        pq.PqCodec(books, rotation=opq), corpus,
    )
    qvs = [[math.sin(i * 0.3 + s) for i in range(DIM)] for s in range(2)]
    singles = {
        qid: [
            (r["vec_id"], round(r["score"], 9))
            for r in store.search(
                qv, k=5, nprobe_top=2, nprobe_sub=1, rescore=4,
            ).collect()
        ]
        for qid, qv in enumerate(qvs)
    }
    queries = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvs)],
        "query_id BIGINT, query_vec ARRAY<DOUBLE>",
    )
    batch = store.batch_search(
        queries, k=5, nprobe_top=2, nprobe_sub=1, rescore=4,
    ).collect()
    got_b: dict = {}
    for r in batch:
        got_b.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["score"], 9))
        )
    assert got_b == singles
