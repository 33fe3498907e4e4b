"""The shared ANN probe core (operators/ann.py): one probe-width rule for
every router × codec pairing, and one locked session index cache.

* ``nprobe*=0`` is clamped to one cell by the router, so it returns the
  same rows as ``nprobe*=1`` on the single-query and the batch path of
  the flat, SQ8 and PQ-companion stores, under IVF and tree routing.
* concurrent ``get_or_build_ivf_index`` callers of one key share a
  single build.

The stores use pinned centroids and codebooks (cut from the corpus
itself), so no KMeans runs here.
"""

from __future__ import annotations

import threading
import time
from types import SimpleNamespace

import pytest

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann, pq, quant
from ydb_vector_search_demo_spark.pipeline import rag
from ydb_vector_search_demo_spark.sources.tables import load_table

QUERIES = ["hash join spark", "window order data", "customer query line"]
M = 4  # PQ subspaces


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    pins = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(6).collect()
    ]
    dim = len(pins[0])
    cents = pins[:4]  # a 4-cell IVF store
    top, sub = pins[:2], [pins[2:4], pins[4:6]]  # a 2×2-leaf tree store
    d = dim // M
    books = [[p[j * d:(j + 1) * d] for p in pins[:4]] for j in range(M)]
    ivf = ann.IvfIndex(ann.ivf_assign(cents, embs), cents, "vec_id", "embedding")
    tree = ann.KMeansTreeIndex(
        ann.tree_assign(top, sub, embs), top, sub, "vec_id", "embedding"
    )
    root = tmp_path_factory.mktemp("probe_core")
    path = {name: str(root / name) for name in ("sq8-ivf", "sq8-tree", "pq-ivf", "pq-tree")}
    quant.write_ivf_quantized(ivf, path["sq8-ivf"])
    quant.write_tree_quantized(tree, path["sq8-tree"])
    # the layout stream_ivf_ingest writes: cell + PQ companion columns
    pq.pq_encode(embs, books).join(
        ivf.assigned.select("vec_id", "centroid_id"), on="vec_id"
    ).write.partitionBy("centroid_id").mode("overwrite").parquet(path["pq-ivf"])
    pq.write_tree_pq(tree, books, path["pq-tree"])
    qvs = [rag.embed_query_stub(q) for q in QUERIES]
    qdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvs)], "query_id INT, query_vec ARRAY<DOUBLE>"
    )
    return SimpleNamespace(
        spark=spark, embs=embs, ivf=ivf, tree=tree, books=books, path=path,
        qv=qvs[0], qdf=qdf,
    )


def _single(s, codec: str, router: str, w: int):
    sp, embs, qv = s.spark, s.embs, s.qv
    ivf, tree = s.ivf, s.tree
    if codec == "flat":
        if router == "ivf":
            return ivf.search(qv, k=5, nprobe=w)
        return tree.search(qv, k=5, nprobe_top=w, nprobe_sub=w)
    p = s.path[f"{codec}-{router}"]
    if codec == "sq8" and router == "ivf":
        return quant.ivf_quantized_search_parquet(
            sp, p, embs, ivf.centroids, qv, k=5, nprobe=w
        )
    if codec == "sq8":
        return quant.tree_quantized_search_parquet(
            sp, p, embs, tree.centroids_top, tree.centroids_sub, qv, k=5,
            nprobe_top=w, nprobe_sub=w,
        )
    if router == "ivf":
        return pq.ivf_pq_companion_search_parquet(
            sp, p, ivf.centroids, s.books, embs, qv, k=5, nprobe=w
        )
    return pq.tree_pq_search_parquet(
        sp, p, tree.centroids_top, tree.centroids_sub, s.books, embs, qv, k=5,
        nprobe_top=w, nprobe_sub=w,
    )


def _batch(s, codec: str, router: str, w: int):
    sp, embs, qdf = s.spark, s.embs, s.qdf
    ivf, tree = s.ivf, s.tree
    if codec == "flat":
        if router == "ivf":
            return ivf.batch_search(qdf, k=5, nprobe=w)
        return tree.batch_search(qdf, k=5, nprobe_top=w, nprobe_sub=w)
    p = s.path[f"{codec}-{router}"]
    if codec == "sq8" and router == "ivf":
        return quant.ivf_quantized_batch_search_parquet(
            sp, p, embs, ivf.centroids, qdf, k=5, nprobe=w
        )
    if codec == "sq8":
        return quant.tree_quantized_batch_search_parquet(
            sp, p, embs, tree.centroids_top, tree.centroids_sub, qdf, k=5,
            nprobe_top=w, nprobe_sub=w,
        )
    if router == "ivf":
        return pq.ivf_pq_companion_batch_search_parquet(
            sp, p, embs, ivf.centroids, s.books, qdf, k=5, nprobe=w
        )
    return pq.tree_pq_batch_search_parquet(
        sp, p, tree.centroids_top, tree.centroids_sub, s.books, embs, qdf,
        k=5, nprobe_top=w, nprobe_sub=w,
    )


@pytest.mark.parametrize("shape", ["single", "batch"])
@pytest.mark.parametrize("router", ["ivf", "tree"])
@pytest.mark.parametrize("codec", ["flat", "sq8", "pq"])
def test_zero_probe_width_clamps_to_one_cell(stores, codec, router, shape):
    """One rule for an out-of-range width: nprobe*=0 probes one cell,
    exactly like nprobe*=1, on every store and both paths."""
    probe = _single if shape == "single" else _batch
    at_zero = sorted(map(tuple, probe(stores, codec, router, 0).collect()))
    at_one = sorted(map(tuple, probe(stores, codec, router, 1).collect()))
    assert at_one, "the one-cell probe must return rows"
    assert at_zero == at_one


def test_index_cache_builds_once_for_concurrent_callers(spark, monkeypatch):
    """Four threads asking for one key at once get one build and one
    shared index object."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    builds = []

    def slow_build(embeddings, k_clusters=16, **_kwargs):
        builds.append(k_clusters)
        time.sleep(0.5)
        return ann.IvfIndex(embeddings, [[0.0]], "vec_id", "embedding")

    monkeypatch.setattr(ann, "build_ivf_index", slow_build)
    barrier = threading.Barrier(4, timeout=60)
    got: list = [None] * 4

    def client(i: int) -> None:
        barrier.wait()
        got[i] = ann.get_or_build_ivf_index(
            embs, k_clusters=4, cache_key="probe-core-lock-test"
        )

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert len(builds) == 1
        assert got[0] is not None
        assert all(g is got[0] for g in got)
    finally:
        ann.clear_index_cache()
