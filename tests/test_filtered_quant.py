"""Filtered probes across the quantized/PQ serving paths (the
filtered-ANN × quantization × batch composition): predicates apply
inside the pruned coarse scan (keep_cols at write/encode time), and at
the degenerate point (full probe + corpus-covering pool) every filtered
path equals exact KNN over the filtered subset."""

from __future__ import annotations

import functools
from types import SimpleNamespace

import pytest

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann, pq, quant
from ydb_vector_search_demo_spark.operators.knn import knn_scores
from ydb_vector_search_demo_spark.pipeline import rag
from ydb_vector_search_demo_spark.sources.tables import load_table

QV = rag.embed_query_stub("filtered quantized probes")
PRED = "label = 1"


@pytest.fixture(scope="module")
def embs(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="module")
def ivf(embs):
    index = ann.build_ivf_index(embs, k_clusters=8, keep_cols=("label",))
    yield index
    index.assigned.unpersist()


def _pairs(rows):
    return [(r["vec_id"], round(r["score"], 9)) for r in rows]


def test_filtered_ivf_quantized_parquet_exact_at_full_probe(spark, embs, ivf, tmp_path):
    path = str(tmp_path / "ivfq_f")
    ann.write_store(
        ivf.assigned, path, ivf.store.router, (quant.Int8Codec(),),
        keep_cols=("label",),
    )
    n = embs.count()
    got = ann.VectorStore(
        spark.read.parquet(path), ann._IvfRouter(ivf.centroids),
        quant.Int8Codec(), embs,
    ).search(
        QV, k=5, nprobe=8, rescore=(n // 5) + 1, predicate=PRED,
    ).collect()
    want = knn_scores(embs.filter(PRED), QV, k=5).collect()
    assert _pairs(got) == _pairs(want)


def test_filtered_pq_search_exact_at_full_pool(spark, embs):
    dim = len(QV)
    books = pq.train_pq_codebooks(embs, dim, m=4, k_star=8)
    encoded = ann.store_rows(embs, codecs=(pq.PqCodec(books),), keep_cols=("label",))
    assert "label" in encoded.columns
    n = embs.count()
    got = ann.VectorStore(
        encoded, codec=pq.PqCodec(books), embeddings=embs
    ).search(QV, k=5, rescore=(n // 5) + 1, predicate=PRED).collect()
    want = knn_scores(embs.filter(PRED), QV, k=5).collect()
    assert _pairs(got) == _pairs(want)


def test_filtered_quantized_batch_parquet_equals_filtered_loop(spark, embs, ivf, tmp_path):
    qvs = [rag.embed_query_stub(q) for q in ["hash join spark", "window order data"]]
    qdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvs)],
        "query_id INT, query_vec ARRAY<DOUBLE>",
    )
    path = str(tmp_path / "ivfq_fb")
    ann.write_store(
        ivf.assigned, path, ivf.store.router, (quant.Int8Codec(),),
        keep_cols=("label",),
    )
    store = ann.VectorStore(
        spark.read.parquet(path), ann._IvfRouter(ivf.centroids),
        quant.Int8Codec(), embs,
    )
    batch = store.batch_search(
        qdf, k=5, nprobe=4, rescore=4, predicate=PRED,
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    labels = {
        r.vec_id for r in embs.filter(PRED).select("vec_id").collect()
    }
    assert all(v in labels for rows in got.values() for _, v, _ in rows)
    for qid, qv in enumerate(qvs):
        single = store.search(
            qv, k=5, nprobe=4, rescore=4, predicate=PRED,
        ).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_filtered_tree_pq_parquet(spark, embs, tmp_path):
    tree = ann.build_kmeans_tree_index(
        embs, k_top=4, k_sub=2, keep_cols=("label",)
    )
    try:
        dim = len(QV)
        books = pq.train_pq_codebooks(embs, dim, m=4, k_star=8)
        path = str(tmp_path / "tree_pq_f")
        ann.write_store(
            tree.assigned, path, tree.store.router, (pq.PqCodec(books),),
            keep_cols=("label",),
        )
        n = embs.count()
        got = ann.VectorStore(
            spark.read.parquet(path),
            ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
            pq.PqCodec(books), embs,
        ).search(
            QV, k=5, nprobe_top=4, nprobe_sub=2,
            rescore=(n // 5) + 1, predicate=PRED,
        ).collect()
        want = knn_scores(embs.filter(PRED), QV, k=5).collect()
        assert _pairs(got) == _pairs(want)
    finally:
        tree.assigned.unpersist()


def test_hybrid_batch_serves_from_quantized_store(spark, embs, ivf, tmp_path):
    """The hybrid retrieval stack's vector side served from the
    persisted int8 IVF layout through a VectorStore: at the
    degenerate point (full probe, corpus-covering rescore) the fused
    output equals the exact-batch_knn hybrid row for row."""
    from ydb_vector_search_demo_spark.operators import retrieval as R

    docs = load_table(spark, SF_SMOKE, "documents")
    queries = spark.createDataFrame(
        [
            (i, q, rag.embed_query_stub(q))
            for i, q in enumerate(["hash join spark", "window order data"])
        ],
        "query_id long, query_text string, query_vec array<double>",
    )
    path = str(tmp_path / "ivfq_hybrid")
    ann.write_store(ivf.assigned, path, ivf.store.router, (quant.Int8Codec(),))
    n = embs.count()
    store = ann.VectorStore(
        spark.read.parquet(path), ann._IvfRouter(ivf.centroids),
        quant.Int8Codec(), embs,
    )
    # the serving configuration: full probe, corpus-covering rescore
    serving = SimpleNamespace(batch_search=functools.partial(
        store.batch_search, rescore=(n // 20) + 1,
    ))
    got = R.hybrid_rrf_batch_topk(
        docs, embs, queries, k=5, pool=20, nprobe=len(ivf.centroids),
        index=serving,
    ).collect()
    want = R.hybrid_rrf_batch_topk(docs, embs, queries, k=5, pool=20).collect()
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[-1])) == sorted(
        map(tuple, want), key=lambda t: (t[0], t[-1])
    )
