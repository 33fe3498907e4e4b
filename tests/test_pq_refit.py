"""PQ codebook refit cycle (operators/pq.py): detect → refit →
re-encode → atomic publish — the completion of pq_drift_report, giving
the quantizer the same maintenance loop as cell populations
(rebalance_tree / rebalance_ivf) and postings (append_bm25_index).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark import stores
from ydb_vector_search_demo_spark.operators import ann, pq
from ydb_vector_search_demo_spark.operators.ann import VectorStore
from ydb_vector_search_demo_spark.operators.knn import knn_scores

DIM, M = 16, 4


def _corpus(spark, shift=0.0, n=200, start_id=0, seed=5):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, DIM)) + shift
    return spark.createDataFrame(
        [(start_id + i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )


def test_save_load_roundtrip_is_exact(spark, tmp_path):
    corpus = _corpus(spark)
    books = pq.train_pq_codebooks(corpus, dim=DIM, m=M, k_star=8)
    path = str(tmp_path / "v1")
    ann.write_store(corpus, path, codecs=(pq.PqCodec(books),))
    base = pq.pq_quantization_mse(corpus, books)
    pq.save_codebooks(spark, path, books, base)
    got_books, got_base = pq.load_codebooks(spark, path)
    assert got_books == books  # JSON float round-trip is exact
    assert got_base == base
    # the sidecar must be invisible to the parquet reader
    assert spark.read.parquet(path).count() == corpus.count()


def test_healthy_store_refits_nothing(spark, tmp_path):
    corpus = _corpus(spark)
    books = pq.train_pq_codebooks(corpus, dim=DIM, m=M, k_star=8)
    base = pq.pq_quantization_mse(corpus, books)
    out = str(tmp_path / "v2")
    got = pq.refit_pq(spark, corpus, books, base, out, dim=DIM, m=M, k_star=8)
    assert got is None
    import os

    assert not os.path.exists(out), "no-drift refit must not write"


def test_drift_refit_publish_cycle(spark, tmp_path):
    root = str(tmp_path / "pqstore")
    corpus = _corpus(spark).cache()
    books = pq.train_pq_codebooks(corpus, dim=DIM, m=M, k_star=8)
    base = pq.pq_quantization_mse(corpus, books)
    v1 = str(tmp_path / "v1")
    ann.write_store(corpus, v1, codecs=(pq.PqCodec(books),))
    pq.save_codebooks(spark, v1, books, base)
    stores.publish_store(spark, root, v1)

    # a drifted feed: reconstruction error explodes under frozen books
    drifted = _corpus(spark, shift=20.0, start_id=10_000, seed=9).cache()
    report = pq.pq_drift_report(spark, drifted, books, base).collect()[0]
    assert report.refit_recommended and report.mse_ratio > 2.0

    merged = corpus.unionByName(drifted)
    v2 = str(tmp_path / "v2")
    refit = pq.refit_pq(
        spark, merged, books, base, v2, dim=DIM, m=M, k_star=8
    )
    assert refit is not None
    new_books, new_base = refit
    stores.publish_store(spark, root, v2)

    codes, cur_books, cur_base = pq.read_current_pq_store(spark, root)
    assert cur_books == new_books and cur_base == new_base
    assert codes.count() == merged.count()  # zero row loss
    # the refreshed generation is healthy against the SAME drifted feed
    after = pq.pq_drift_report(spark, drifted, cur_books, cur_base).collect()[0]
    assert not after.refit_recommended, after

    # search on the refitted store stays exact at the degenerate point
    # (full candidate pool -> the ADC coarse pass cannot lose the answer)
    q = [float(v) for v in np.random.default_rng(1).normal(size=DIM)]
    n = merged.count()
    got = [
        (r["vec_id"], pytest.approx(r["score"], abs=1e-9))
        for r in VectorStore(
            codes, codec=pq.PqCodec(cur_books), embeddings=merged
        ).search(q, k=5, rescore=(n + 4) // 5).collect()
    ]
    exact = [(r["vec_id"], r["score"]) for r in knn_scores(merged, q, k=5).collect()]
    assert [g[0] for g in got] == [e[0] for e in exact]
    corpus.unpersist()
    drifted.unpersist()


def test_batch_gate_is_not_diluted_by_healthy_corpus(spark, tmp_path):
    """A small drifted batch that crosses the batch-level threshold
    must trigger the refit even when merged-corpus MSE stays healthy:
    the gate runs on drift_batch when given (the detect→refuse
    dilution hole). The default (merged) gate on the same inputs
    declines — both behaviors pinned."""
    corpus = _corpus(spark, n=400).cache()
    books = pq.train_pq_codebooks(corpus, dim=DIM, m=M, k_star=8)
    base = pq.pq_quantization_mse(corpus, books)
    # tiny, badly drifted batch: crosses threshold alone, diluted merged
    batch = _corpus(spark, shift=1.5, n=8, start_id=50_000, seed=11).cache()
    assert pq.pq_drift_report(spark, batch, books, base).collect()[0].refit_recommended
    merged = corpus.unionByName(batch)
    assert not pq.pq_drift_report(
        spark, merged, books, base
    ).collect()[0].refit_recommended, "corpus too small to demonstrate dilution"

    out_default = str(tmp_path / "v_default")
    assert pq.refit_pq(
        spark, merged, books, base, out_default, dim=DIM, m=M, k_star=8
    ) is None  # merged gate: diluted, declines

    out_batch = str(tmp_path / "v_batchgate")
    got = pq.refit_pq(
        spark, merged, books, base, out_batch, dim=DIM, m=M, k_star=8,
        drift_batch=batch,
    )
    assert got is not None  # batch gate: refits
    corpus.unpersist()
    batch.unpersist()


def test_maintenance_cycle_append_then_refit(spark, tmp_path):
    """pq_maintenance_cycle replay (the catalog row pq_refit_lifecycle
    with pinned assertions): healthy batch -> frozen-books append
    (books unchanged, codes grow by the batch); drifted batch ->
    refit + re-encode (new books, post ratio back under threshold);
    every generation published atomically and time-travelable."""
    root = str(tmp_path / "root")
    corpus = _corpus(spark, n=200).cache()
    books = pq.train_pq_codebooks(corpus, dim=DIM, m=M, k_star=8)
    base = pq.pq_quantization_mse(corpus, books)
    v1 = str(tmp_path / "v1")
    ann.write_store(corpus, v1, codecs=(pq.PqCodec(books),))
    pq.save_codebooks(spark, v1, books, base)
    stores.publish_store(spark, root, v1)

    healthy = _corpus(spark, n=100, start_id=1_000, seed=21).cache()
    c1 = pq.pq_maintenance_cycle(
        spark, root, corpus, healthy, str(tmp_path / "v2"), dim=DIM, m=M,
        k_star=8,
    ).collect()[0]
    assert c1.action == "append_frozen" and not c1.refit_recommended
    assert c1.published_seq == 2 and c1.n_store == 300
    cur_books, cur_base = pq.load_codebooks(
        spark, stores.current_store_path(spark, root)
    )
    assert cur_books == books and cur_base == base  # frozen across append

    corpus2 = corpus.unionByName(healthy)
    drifted = _corpus(spark, shift=20.0, n=100, start_id=2_000, seed=22).cache()
    c2 = pq.pq_maintenance_cycle(
        spark, root, corpus2, drifted, str(tmp_path / "v3"), dim=DIM, m=M,
        k_star=8,
    ).collect()[0]
    assert c2.action == "refit_reencode" and c2.refit_recommended
    assert c2.mse_ratio > 2.0
    assert c2.published_seq == 3 and c2.n_store == 400
    assert not c2.post_refit_recommended  # the loop closed
    new_books, _ = pq.load_codebooks(spark, stores.current_store_path(spark, root))
    assert new_books != books  # actually refit
    # time travel: generation 2 still resolves with its own books
    assert spark.read.parquet(stores.store_path_at(spark, root, 2)).count() == 300
    for df in (corpus, healthy, drifted):
        df.unpersist()
