"""The shared ANN probe core (operators/ann.py): one probe-width rule for
every router × codec pairing, one codec column set shared by the batch
writers and the streaming ingest, and one locked session cache.

* ``nprobe*=0`` is clamped to one cell by the router, so it returns the
  same rows as ``nprobe*=1`` on the single-query and the batch path of
  the flat, SQ8 and PQ-companion stores, under IVF and tree routing.
* the batch-written int8 and PQ tree stores hold the same codec columns
  as the streaming ingest's companion projection.
* concurrent callers of one key share a single build in every session
  cache: IVF indexes, BM25 postings, normalized, rotated and graph
  stores.

The stores use pinned centroids and codebooks (cut from the corpus
itself), so no KMeans runs here.
"""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators import (
    ann,
    knn,
    pq,
    quant,
    retrieval,
    rotation,
)
from ydb_vector_search_demo_spark.pipeline import rag
from ydb_vector_search_demo_spark.sources.tables import load_table
from ydb_vector_search_demo_spark.streaming import ingest

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
    ann.write_store(
        ivf.assigned, path["sq8-ivf"], ivf.store.router, (quant.Int8Codec(),),
    )
    ann.write_store(
        tree.assigned, path["sq8-tree"], tree.store.router, (quant.Int8Codec(),),
    )
    # the layout a PQ companion stream writes: cell + PQ companion columns
    ann.store_rows(embs, codecs=(pq.PqCodec(books),)).join(
        ivf.assigned.select("vec_id", "centroid_id"), on="vec_id"
    ).write.partitionBy("centroid_id").mode("overwrite").parquet(path["pq-ivf"])
    ann.write_store(
        tree.assigned, path["pq-tree"], tree.store.router, (pq.PqCodec(books),),
    )
    qvs = [rag.embed_query_stub(q) for q in QUERIES]
    qdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvs)], "query_id INT, query_vec ARRAY<DOUBLE>"
    )
    return SimpleNamespace(
        spark=spark, embs=embs, ivf=ivf, tree=tree, books=books, path=path,
        qv=qvs[0], qdf=qdf,
    )


def _store(s, codec: str, router: str):
    """The probed store as one object: the float index's own store, or
    the persisted codec store routed by the index's codebooks."""
    index = s.ivf if router == "ivf" else s.tree
    if codec == "flat":
        return index.store
    return ann.VectorStore(
        s.spark.read.parquet(s.path[f"{codec}-{router}"]), index.store.router,
        quant.Int8Codec() if codec == "sq8" else pq.PqCodec(s.books), s.embs,
    )


def _widths(router: str, w: int) -> dict:
    return {"nprobe": w} if router == "ivf" else {"nprobe_top": w, "nprobe_sub": w}


def _single(s, codec: str, router: str, w: int):
    return _store(s, codec, router).search(s.qv, k=5, **_widths(router, w))


def _batch(s, codec: str, router: str, w: int):
    return _store(s, codec, router).batch_search(s.qdf, k=5, **_widths(router, w))


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


def test_batch_and_stream_write_the_same_codec_columns(stores):
    """The batch-written int8 and PQ tree stores hold exactly the rows
    of the streaming ingest's companion projection over the same tree
    assignment: one codec column set, byte for byte."""
    s, key = stores, ["vec_id", "cell_top", "cell_sub"]
    cols = key + ["qvec", "qscale", "pq_codes", "vnorm"]
    batch = s.spark.read.parquet(s.path["sq8-tree"]).join(
        s.spark.read.parquet(s.path["pq-tree"]), on=key
    )
    stream = ann.store_rows(
        ann.tree_assign(s.tree.centroids_top, s.tree.centroids_sub, s.embs),
        s.tree.store.router, (None, quant.Int8Codec(), pq.PqCodec(s.books)),
    )
    got = sorted(map(tuple, batch.select(*cols).collect()))
    assert got
    assert got == sorted(map(tuple, stream.select(*cols).collect()))


def test_vector_literal_binds_like_f_lit(spark):
    """The one array binder (knn.vector_literal) reads back bit-identical
    to F.lit with the same types: nested doubles with NaN, ±inf, -0.0,
    a subnormal and 1e308, and integer words on both sides of 2^31."""
    import math
    import struct

    from pyspark.sql import functions as F

    doubles = [
        [float("nan"), float("inf"), -float("inf"), -0.0],
        [5e-324, 1e308, -1e308, 0.1],
    ]
    cases = {
        "nested": (doubles, {}),
        "flat": (doubles[1], {}),
        "small_words": ([0, 1, 2**31 - 1, -(2**31)], {"integers": True}),
        "wide_words": ([0, 2**31, 2**32 - 1, 2**62], {"integers": True}),
    }
    cols = []
    for name, (value, kw) in cases.items():
        cols += [
            knn.vector_literal(value, **kw).alias(f"{name}_bound"),
            F.lit(value).alias(f"{name}_lit"),
        ]
    df = spark.range(1).select(*cols)
    row = df.first()

    def bits(v):
        if isinstance(v, list):
            return [bits(x) for x in v]
        if isinstance(v, float):
            return struct.pack(">d", v)
        return v

    types = {f.name: f.dataType for f in df.schema.fields}
    for name in cases:
        assert types[f"{name}_bound"] == types[f"{name}_lit"], name
        assert bits(row[f"{name}_bound"]) == bits(row[f"{name}_lit"]), name
    assert math.isnan(row["nested_bound"][0][0])
    assert types["small_words_bound"].simpleString() == "array<int>"
    assert types["wide_words_bound"].simpleString() == "array<bigint>"


KEY = "probe-core-lock-test"

# cache -> (owner module, build function attribute, cache dict attribute or
# None for the index cache, get-or-build call)
CACHES = {
    "ivf-index": (
        ann, "build_ivf_index", None,
        lambda e: ann.get_or_build_ivf_index(e, k_clusters=4, cache_key=KEY),
    ),
    "bm25": (
        retrieval, "build_bm25_index", "_BM25_CACHE",
        lambda e: retrieval.get_or_build_bm25_index(e, KEY),
    ),
    "normalized-store": (
        knn, "write_normalized_store", "_NORM_STORE_CACHE",
        lambda e: knn.get_or_write_normalized_store(e, KEY),
    ),
    "rotated-store": (
        rotation, "write_store", "_STORE_CACHE",
        lambda e: rotation.get_or_write_rotated_store(e, [[1.0]], KEY),
    ),
    "graph-store": (
        ann, "write_graph_store", "_GRAPH_STORE_CACHE",
        lambda e: ann.get_or_write_graph_store(e, e, KEY),
    ),
}


@pytest.mark.parametrize("cache", list(CACHES))
def test_index_cache_builds_once_for_concurrent_callers(spark, monkeypatch, cache):
    """Eight threads (more than the test session's cores) asking one
    session cache for one key at once get one build and one shared
    result (a counting stand-in build function, so no real index or store is
    built)."""
    owner, build_attr, cache_attr, get = CACHES[cache]
    embs = load_table(spark, SF_SMOKE, "embeddings")
    builds = []

    def slow_build(embeddings, *args, **_kwargs):
        builds.append(1)
        time.sleep(0.5)
        if cache == "ivf-index":
            return ann.IvfIndex(embeddings, [[0.0]], "vec_id", "embedding")
        return SimpleNamespace(postings=embeddings)

    monkeypatch.setattr(owner, build_attr, slow_build)
    if cache_attr is not None:
        monkeypatch.setattr(owner, cache_attr, {})
    n = 8
    barrier = threading.Barrier(n, timeout=60)
    got: list = [None] * n

    def client(i: int) -> None:
        barrier.wait()
        got[i] = get(embs)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
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
        sys.setswitchinterval(interval)
        ann.clear_index_cache()
