"""Batched ANN probe (r4 verdict task #1): a DataFrame of query vectors
through ONE pruned scan of the IVF / tree store.

Contracts under test:
* row-identity with the per-query ``index.search`` loop at equal nprobe
  (the batch path must be a pure execution-shape change, not a
  semantics change);
* the parquet serving path returns the same rows as the in-memory path;
* a full probe (nprobe = k_clusters) equals exact KNN — recall 1.0;
* plan shape: one pruned scan, Partial WindowGroupLimit below the keyed
  exchange, zero Python nodes (the batch_knn contract, knn.py:147-153).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann
from ydb_vector_search_demo_spark.pipeline import rag
from ydb_vector_search_demo_spark.sources.tables import load_table

QUERIES = ["hash join spark", "window order data", "customer query line"]


@pytest.fixture(scope="module")
def embs(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="module")
def qvs():
    return [rag.embed_query_stub(q) for q in QUERIES]


@pytest.fixture(scope="module")
def qdf(spark, qvs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvs)],
        "query_id INT, query_vec ARRAY<DOUBLE>",
    )


@pytest.fixture(scope="module")
def ivf(embs):
    index = ann.build_ivf_index(embs, k_clusters=8)
    yield index
    index.assigned.unpersist()


@pytest.fixture(scope="module")
def tree(embs):
    index = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2)
    yield index
    index.assigned.unpersist()


def _rows(df, qid_col="query_id"):
    return [
        (r["vec_id"], round(r["score"], 9))
        for r in df.orderBy(qid_col, "rank").collect()
    ]


def test_ivf_batch_equals_per_query_loop(ivf, qdf, qvs):
    batch = ivf.batch_search(qdf, k=5, nprobe=3).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["score"], 9))
        )
    for i, qv in enumerate(qvs):
        loop = [
            (r["vec_id"], round(r["score"], 9))
            for r in ivf.search(qv, k=5, nprobe=3).collect()
        ]
        assert by_q[i] == loop, f"query {i}: batch != per-query search"


def test_tree_batch_equals_per_query_loop(tree, qdf, qvs):
    batch = tree.batch_search(qdf, k=5, nprobe_top=2, nprobe_sub=1).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], round(r["score"], 9))
        )
    for i, qv in enumerate(qvs):
        loop = [
            (r["vec_id"], round(r["score"], 9))
            for r in tree.search(qv, k=5, nprobe_top=2, nprobe_sub=1).collect()
        ]
        assert by_q[i] == loop, f"query {i}: batch != per-query search"


def test_ivf_batch_parquet_matches_in_memory(spark, ivf, qdf, tmp_path):
    store = str(tmp_path / "ivf_store")
    ann.write_ivf_partitioned(ivf, store)
    mem = _rows(ivf.batch_search(qdf, k=5, nprobe=3))
    pq = _rows(
        ann.ivf_batch_search_parquet(spark, store, ivf.centroids, qdf, k=5, nprobe=3)
    )
    assert mem == pq


def test_full_probe_recall_is_one(spark, embs, qdf):
    report = ann.ivf_batch_recall(
        spark, embs, qdf, k=10, k_clusters=8, nprobe=8
    ).collect()[0]
    assert report.n_queries == 3
    assert report.mean_recall == 1.0 and report.min_recall == 1.0


def test_partial_probe_recall_sane(spark, embs, qdf):
    report = ann.ivf_batch_recall(
        spark, embs, qdf, k=10, k_clusters=8, nprobe=2
    ).collect()[0]
    assert 0.0 <= report.min_recall <= report.mean_recall <= 1.0


def test_batch_probe_plan_shape(spark, ivf, qdf, tmp_path):
    """One pruned parquet scan, Partial WindowGroupLimit below the keyed
    exchange, no Python nodes — the 100 TB posture of the batched probe."""
    store = str(tmp_path / "ivf_store_plan")
    ann.write_ivf_partitioned(ivf, store)
    df = ann.ivf_batch_search_parquet(spark, store, ivf.centroids, qdf, k=5, nprobe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, "the whole batch must share one scan"
    assert "centroid_id" in plan, "union-of-cells filter must reach the scan"
    assert plan.count("WindowGroupLimit") == 2, "need Partial + Final group-limit"
    below_shuffle = plan.split("Exchange hashpartitioning")[-1]
    assert "WindowGroupLimit" in below_shuffle and "Partial" in below_shuffle
    assert "BroadcastHashJoin" in plan, "membership join must broadcast"
    assert "SortMergeJoin" not in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan, "batched probe must stay JVM-side"


def test_tree_batch_parquet_matches_in_memory(spark, tree, qdf, tmp_path):
    store = str(tmp_path / "tree_store")
    ann.write_store(tree.assigned, store, tree.store.router)
    mem = _rows(tree.batch_search(qdf, k=5, nprobe_top=2, nprobe_sub=1))
    pq = _rows(
        ann.VectorStore(
            spark.read.parquet(store),
            ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
        ).batch_search(qdf, k=5, nprobe_top=2, nprobe_sub=1)
    )
    assert mem == pq


def test_ivf_batch_filtered_predicate(spark, embs, qdf):
    """Predicate applies inside the pruned scan: every returned row
    satisfies it, per query."""
    index = ann.build_ivf_index(embs, k_clusters=8, keep_cols=("label",))
    try:
        out = index.batch_search(
            qdf, k=5, nprobe=8, predicate="label = 1"
        )
        labels = (
            out.join(embs.select("vec_id", "label"), on="vec_id")
            .select("label")
            .collect()
        )
        assert labels and all(r.label == 1 for r in labels)
    finally:
        index.assigned.unpersist()


def test_quantized_batch_equals_single_query_loop(spark, embs, qdf, qvs):
    """Batched flat-quantized search == per-query int8 search."""
    from ydb_vector_search_demo_spark.operators import quant

    quantized = ann.store_rows(embs, codecs=(quant.Int8Codec(),))
    store = ann.VectorStore(quantized, codec=quant.Int8Codec(), embeddings=embs)
    batch = store.batch_search(qdf, k=5, rescore=4).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(qv, k=5, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_ivf_quantized_batch_parquet_equals_loop(spark, embs, qdf, qvs, ivf, tmp_path):
    """Batched pruned+quantized serving == per-query int8 IVF store
    search loop at equal nprobe/rescore."""
    from ydb_vector_search_demo_spark.operators import quant

    path = str(tmp_path / "ivfq")
    ann.write_store(ivf.assigned, path, ivf.store.router, (quant.Int8Codec(),))
    store = ann.VectorStore(
        spark.read.parquet(path), ann._IvfRouter(ivf.centroids),
        quant.Int8Codec(), embs,
    )
    batch = store.batch_search(qdf, k=5, nprobe=4, rescore=4).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(qv, k=5, nprobe=4, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_quantized_batch_plan_shape(spark, embs, qdf):
    from ydb_vector_search_demo_spark.operators import quant

    quantized = ann.store_rows(embs, codecs=(quant.Int8Codec(),))
    df = ann.VectorStore(
        quantized, codec=quant.Int8Codec(), embeddings=embs
    ).batch_search(qdf, k=5, rescore=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_pq_batch_equals_single_query_loop(spark, embs, qdf, qvs):
    """Batched ADC search == per-query PQ search loop."""
    from ydb_vector_search_demo_spark.operators import pq

    dim = len(qvs[0])
    books = pq.train_pq_codebooks(embs, dim, m=8, k_star=16)
    encoded = ann.store_rows(embs, codecs=(pq.PqCodec(books),))
    store = ann.VectorStore(encoded, codec=pq.PqCodec(books), embeddings=embs)
    batch = store.batch_search(qdf, k=5, rescore=4).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(qv, k=5, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_ivfpq_companion_batch_parquet_equals_loop(
    spark, embs, qdf, qvs, ivf, tmp_path
):
    """Batched pruned PQ-companion serving == per-query loop."""
    from pyspark.sql import functions as F

    from ydb_vector_search_demo_spark.operators import ann as _ann
    from ydb_vector_search_demo_spark.operators import pq

    dim = len(qvs[0])
    books = pq.train_pq_codebooks(embs, dim, m=8, k_star=16)
    path = str(tmp_path / "ivfpq_comp")
    # the layout a PQ companion stream writes: cell + PQ companion columns
    _ann.ivf_assign(ivf.centroids, embs).select(
        "vec_id", "centroid_id",
        pq.encode_expr("embedding", books).alias("pq_codes"),
    ).join(
        _ann.store_rows(embs, codecs=(pq.PqCodec(books),)).select(
            "vec_id", "vnorm"
        ),
        on="vec_id",
    ).write.partitionBy("centroid_id").mode("overwrite").parquet(path)

    store = _ann.VectorStore(
        spark.read.parquet(path), _ann._IvfRouter(ivf.centroids),
        pq.PqCodec(books), embs,
    )
    batch = store.batch_search(qdf, k=5, nprobe=4, rescore=4).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(qv, k=5, nprobe=4, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_tree_quantized_batch_parquet_equals_loop(spark, embs, qdf, qvs, tree, tmp_path):
    """Batched int8 tree probe == per-query int8 tree store search
    loop — the two-level pruning × int8 bytes × batch-axis composition."""
    from ydb_vector_search_demo_spark.operators import quant

    path = str(tmp_path / "tree_q")
    ann.write_store(tree.assigned, path, tree.store.router, (quant.Int8Codec(),))
    store = ann.VectorStore(
        spark.read.parquet(path),
        ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
        quant.Int8Codec(), embs,
    )
    batch = store.batch_search(
        qdf, k=5, nprobe_top=2, nprobe_sub=2, rescore=4,
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(
            qv, k=5, nprobe_top=2, nprobe_sub=2, rescore=4,
        ).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_tree_pq_batch_parquet_equals_loop(spark, embs, qdf, qvs, tree, tmp_path):
    """Batched ADC tree probe == per-query PQ tree store search loop."""
    from ydb_vector_search_demo_spark.operators import pq

    dim = len(qvs[0])
    books = pq.train_pq_codebooks(embs, dim, m=8, k_star=16)
    path = str(tmp_path / "tree_pq")
    ann.write_store(tree.assigned, path, tree.store.router, (pq.PqCodec(books),))
    store = ann.VectorStore(
        spark.read.parquet(path),
        ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
        pq.PqCodec(books), embs,
    )
    batch = store.batch_search(
        qdf, k=5, nprobe_top=2, nprobe_sub=2, rescore=4,
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(
            qv, k=5, nprobe_top=2, nprobe_sub=2, rescore=4,
        ).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_ivfpq_residual_batch_parquet_equals_loop(spark, embs, qdf, qvs, ivf, tmp_path):
    """Batched residual IVF-PQ probe == per-query residual store search
    loop — per-(query, cell) residual LUTs ride the membership join."""
    from ydb_vector_search_demo_spark.operators import pq

    dim = len(qvs[0])
    books = pq.train_ivfpq_codebooks(ivf, dim, m=8, k_star=16)
    path = str(tmp_path / "ivfpq_res")
    ann.write_store(
        ivf.assigned, path, ivf.store.router, (pq.PqCodec(books, ivf.centroids),),
    )
    store = ann.VectorStore(
        spark.read.parquet(path), ann._IvfRouter(ivf.centroids),
        pq.PqCodec(books, ivf.centroids), embs,
    )
    batch = store.batch_search(qdf, k=5, nprobe=4, rescore=4).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(qv, k=5, nprobe=4, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_binary_batch_equals_single_query_loop(spark, embs, qdf, qvs):
    """Batched 1-bit Hamming search == per-query 1-bit search loop —
    the last precision of the ladder on the batch axis."""
    from ydb_vector_search_demo_spark.operators import quant

    binarized = ann.store_rows(embs, codecs=(quant.BinaryCodec(len(qvs[0])),))
    store = ann.VectorStore(binarized, codec=quant.BinaryCodec(), embeddings=embs)
    batch = store.batch_search(qdf, k=5, rescore=16).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    for qid, qv in enumerate(qvs):
        single = store.search(qv, k=5, rescore=16).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"
