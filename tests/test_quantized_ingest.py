"""Quantized companions meet the ingest paths (r4 verdict task #3):
PQ codes maintained incrementally by the streaming IVF ingest with
frozen codebooks, and int8/PQ companion stores on the two-level tree
layout — with coarse searches running directly on the streamed-in /
tree-partitioned stores."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann, pq, quant
from ydb_vector_search_demo_spark.operators.knn import knn_scores
from ydb_vector_search_demo_spark.pipeline import rag
from ydb_vector_search_demo_spark.sources.tables import load_table
from ydb_vector_search_demo_spark.streaming import ingest

QV = rag.embed_query_stub("streamed quantized search")
DIM = len(QV)


@pytest.fixture(scope="module")
def embs(spark):
    return load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def ivf(embs):
    index = ann.build_ivf_index(embs, k_clusters=4)
    yield index
    index.assigned.unpersist()


@pytest.fixture(scope="module")
def books(embs):
    return pq.train_pq_codebooks(embs, DIM, m=8, k_star=16)


def _store_rows(df):
    return sorted(
        (
            r.vec_id,
            r.centroid_id,
            tuple(r.qvec),
            round(r.qscale, 6),
            tuple(r.pq_codes),
            round(r.vnorm, 5),
        )
        for r in df.collect()
    )


def test_stream_ivf_pq_companions_equal_batch_across_microbatches(
    spark, embs, ivf, books, tmp_path
):
    """Two micro-batches stream through the routing + int8 + PQ
    companion encode; the store must equal the batch computation of
    the same columns over the same rows — encode equality is what
    makes the streamed store searchable with the batch codebooks."""
    src = tmp_path / "drops"
    src.mkdir()
    store = str(tmp_path / "stream_store")
    ckpt = str(tmp_path / "ckpt")
    first = embs.filter("vec_id % 2 = 0")
    second = embs.filter("vec_id % 2 = 1")
    first.write.parquet(str(src / "batch1"))

    def run():
        stream = ingest.read_embeddings_stream(
            spark, str(src) + "/*", dim_hint_df=embs
        )
        q = ingest.stream_ingest(
            stream, ann._IvfRouter(ivf.centroids), store, ckpt,
            (None, quant.Int8Codec(), pq.PqCodec(books)),
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(store).count() == first.count()
    second.write.parquet(str(src / "batch2"))
    run()

    batch = ann.store_rows(
        ann.ivf_assign(ivf.centroids, embs), ann._IvfRouter(ivf.centroids),
        (None, quant.Int8Codec(), pq.PqCodec(books)),
    )
    got = _store_rows(
        spark.read.parquet(store).select(
            "vec_id", "centroid_id", "qvec", "qscale", "pq_codes", "vnorm"
        )
    )
    want = _store_rows(
        batch.select("vec_id", "centroid_id", "qvec", "qscale", "pq_codes", "vnorm")
    )
    assert got == want


def test_coarse_searches_on_streamed_store(spark, embs, ivf, books, tmp_path):
    """Both coarse search shapes run directly on the streamed-in store:
    int8 (quant.Int8Codec) and PQ companion (pq.PqCodec), each an
    IVF-routed ann.VectorStore. At a full probe with a
    candidate pool covering the corpus, both equal exact KNN."""
    src = tmp_path / "drops2"
    src.mkdir()
    store = str(tmp_path / "stream_store2")
    ckpt = str(tmp_path / "ckpt2")
    embs.write.parquet(str(src / "all"))
    q = ingest.stream_ingest(
        ingest.read_embeddings_stream(spark, str(src) + "/*", dim_hint_df=embs),
        ann._IvfRouter(ivf.centroids), store, ckpt,
        (None, quant.Int8Codec(), pq.PqCodec(books)),
    )
    q.awaitTermination(120)

    n = embs.count()
    k = 5
    rescore = n // k + 1  # pool >= corpus: rescore stage sees every row
    exact = [
        (r.vec_id, round(r.score, 9))
        for r in knn_scores(embs, QV, k=k).collect()
    ]
    int8 = [
        (r.vec_id, round(r.score, 9))
        for r in ann.VectorStore(
            spark.read.parquet(store), ann._IvfRouter(ivf.centroids),
            quant.Int8Codec(), embs,
        ).search(
            QV, k=k, nprobe=len(ivf.centroids), rescore=rescore,
        ).collect()
    ]
    assert int8 == exact
    pq_res = [
        (r.vec_id, round(r.score, 9))
        for r in ann.VectorStore(
            spark.read.parquet(store), ann._IvfRouter(ivf.centroids),
            pq.PqCodec(books), embs,
        ).search(
            QV, k=k, nprobe=len(ivf.centroids), rescore=rescore,
        ).collect()
    ]
    assert pq_res == exact


def test_tree_store_quantized_companions(spark, embs, books, tmp_path):
    """The tree layout carries int8 and PQ companions now: full-probe
    coarse searches over both companion stores equal exact KNN."""
    tree = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2)
    try:
        int8_path = str(tmp_path / "tree_int8")
        pq_path = str(tmp_path / "tree_pq")
        ann.write_store(
            tree.assigned, int8_path, tree.store.router, (quant.Int8Codec(),),
        )
        ann.write_store(tree.assigned, pq_path, tree.store.router, (pq.PqCodec(books),))

        n = embs.count()
        k = 5
        rescore = n // k + 1
        k_sub_max = max(len(s) for s in tree.centroids_sub)
        exact = [
            (r.vec_id, round(r.score, 9))
            for r in knn_scores(embs, QV, k=k).collect()
        ]
        int8 = [
            (r.vec_id, round(r.score, 9))
            for r in ann.VectorStore(
                spark.read.parquet(int8_path), tree.store.router,
                quant.Int8Codec(), embs,
            ).search(
                QV, k=k, nprobe_top=len(tree.centroids_top),
                nprobe_sub=k_sub_max, rescore=rescore,
            ).collect()
        ]
        assert int8 == exact
        pq_res = [
            (r.vec_id, round(r.score, 9))
            for r in ann.VectorStore(
                spark.read.parquet(pq_path), tree.store.router,
                pq.PqCodec(books), embs,
            ).search(
                QV, k=k, nprobe_top=len(tree.centroids_top),
                nprobe_sub=k_sub_max, rescore=rescore,
            ).collect()
        ]
        assert pq_res == exact
    finally:
        tree.assigned.unpersist()


def test_stream_tree_ingest_with_companions(spark, embs, books, tmp_path):
    """The tree streaming ingest carries the same companions: streamed
    store columns equal the batch tree_assign + companion encode."""
    tree = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2)
    try:
        src = tmp_path / "tdrops"
        src.mkdir()
        store = str(tmp_path / "tree_stream_store")
        ckpt = str(tmp_path / "tckpt")
        embs.write.parquet(str(src / "all"))
        q = ingest.stream_ingest(
            ingest.read_embeddings_stream(spark, str(src) + "/*", dim_hint_df=embs),
            ann._TreeRouter(tree.centroids_top, tree.centroids_sub), store,
            ckpt, (None, quant.Int8Codec(), pq.PqCodec(books)),
        )
        q.awaitTermination(120)
        got = sorted(
            (r.vec_id, r.cell_top, r.cell_sub, tuple(r.qvec), tuple(r.pq_codes))
            for r in spark.read.parquet(store).collect()
        )
        batch = ann.store_rows(
            ann.tree_assign(tree.centroids_top, tree.centroids_sub, embs),
            tree.store.router, (None, quant.Int8Codec(), pq.PqCodec(books)),
        )
        want = sorted(
            (r.vec_id, r.cell_top, r.cell_sub, tuple(r.qvec), tuple(r.pq_codes))
            for r in batch.collect()
        )
        assert got == want
    finally:
        tree.assigned.unpersist()


def test_pq_train_degenerate_corpus_does_not_abort(spark):
    """ADVICE item: a near-duplicate-heavy (here: fully constant)
    corpus must not abort codebook training — the fit degrades to a
    clamped k / single-centroid codebook instead of propagating the
    MLlib failure."""
    rows = [(i, [1.0] * DIM) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    books = pq.train_pq_codebooks(df, DIM, m=4, k_star=8)
    assert len(books) == 4
    # every subspace got SOME codebook; encoding works end to end
    encoded = ann.store_rows(df, codecs=(pq.PqCodec(books),))
    assert encoded.count() == 10
    # ADC over the degenerate codebook still reproduces the exact
    # distance for the constant corpus (codes reconstruct perfectly)
    lut = pq.adc_lut([1.0] * DIM, books, "euclidean")
    assert all(abs(min(row)) < 1e-9 for row in lut)


def test_stream_bm25_ingest_equals_full_rebuild(spark, tmp_path):
    """Two micro-batches of documents through stream_bm25_ingest: the
    published index must equal a batch build over everything ingested,
    and each micro-batch must have published its own version."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark import stores
    from ydb_vector_search_demo_spark.operators import retrieval as R
    from ydb_vector_search_demo_spark.sources.tables import load_table
    from ydb_vector_search_demo_spark.streaming import ingest

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = tmp_path / "docs_src"
    root = str(tmp_path / "bm25_root")
    ckpt = str(tmp_path / "ckpt")
    schema = docs.schema

    # batch 1
    docs.filter(F.col("doc_id") < 250).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = ingest.stream_bm25_ingest(stream, root, ckpt).start()
    q.awaitTermination(120)
    # batch 2 (new file -> second availableNow run)
    docs.filter(F.col("doc_id") >= 250).write.parquet(str(src / "b2"))
    q2 = ingest.stream_bm25_ingest(
        spark.readStream.schema(schema).parquet(str(src) + "/*"), root, ckpt
    ).start()
    q2.awaitTermination(120)

    seqs = [s for s, _ in stores.store_history(spark, root)]
    assert seqs == [1, 2], seqs

    terms = R.query_terms("fast scan table row value")
    streamed = R.read_current_bm25_index(spark, root)
    full = R.build_bm25_index(docs)
    try:
        a = [tuple(r) for r in streamed.topk(terms, k=10).collect()]
        b = [tuple(r) for r in full.topk(terms, k=10).collect()]
        assert a == b
        assert streamed.n == full.n == docs.count()
    finally:
        full.postings.unpersist()


def test_stream_ingest_mrl_prefix_companion(spark, embs, ivf, tmp_path):
    """The MRL prefix companion streams too: the prefix column equals
    the batch slice row for row, and the streamed-in store serves the
    MRL coarse search directly — exact at the degenerate point (the
    last precision of the ladder maintained incrementally)."""
    src = tmp_path / "mrl_drops"
    src.mkdir()
    store = str(tmp_path / "mrl_stream_store")
    ckpt = str(tmp_path / "mrl_ckpt")
    embs.write.parquet(str(src / "batch1"))
    stream = ingest.read_embeddings_stream(
        spark, str(src) + "/*", dim_hint_df=embs
    )
    q = ingest.stream_ingest(
        stream, ann._IvfRouter(ivf.centroids), store, ckpt,
        (None, quant.MrlCodec(16)),
    )
    q.awaitTermination(120)

    back = spark.read.parquet(store)
    assert back.selectExpr("max(size(prefix)) m").first()["m"] == 16
    import pyspark.sql.functions as F

    mism = (
        back.select("vec_id", "prefix")
        .join(embs, on="vec_id")
        .filter(F.expr("prefix != slice(embedding, 1, 16)"))
        .count()
    )
    assert mism == 0

    n = embs.count()
    got = ann.VectorStore(
        spark.read.parquet(store), codec=quant.MrlCodec(16), embeddings=embs
    ).batch_search(
        spark.createDataFrame(
            [(0, QV)], "query_id INT, query_vec ARRAY<DOUBLE>"
        ),
        k=5, rescore=(n // 5) + 1,
    ).collect()
    want = knn_scores(embs, QV, k=5).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got] == [
        (r["vec_id"], round(r["score"], 9)) for r in want
    ]


def test_stream_ingest_rotated_prefix_companion(spark, embs, ivf, tmp_path):
    """The learned-rotation prefix companion streams too (r6): the
    prefix column equals the batch rotation (rotation.rotate_expr) row for
    row, the streamed-in store serves a batched rotation.PcaCodec
    store directly — exact at the degenerate point (dims=d, corpus-covering
    pool) — and the mrl/rotation prefix companions are mutually
    exclusive (both write 'prefix')."""
    from ydb_vector_search_demo_spark.operators import rotation as R

    rot = R.hadamard_rotation(DIM)
    src = tmp_path / "rot_drops"
    src.mkdir()
    store = str(tmp_path / "rot_stream_store")
    ckpt = str(tmp_path / "rot_ckpt")
    embs.write.parquet(str(src / "batch1"))
    stream = ingest.read_embeddings_stream(
        spark, str(src) + "/*", dim_hint_df=embs
    )
    q = ingest.stream_ingest(
        stream, ann._IvfRouter(ivf.centroids), store, ckpt,
        (None, R.PcaCodec(rot, 16)),
    )
    q.awaitTermination(120)

    back = spark.read.parquet(store)
    assert back.selectExpr("max(size(prefix)) m").first()["m"] == 16
    batch = {
        r["vec_id"]: [round(x, 9) for x in r["prefix"]]
        for r in embs.select(
            "vec_id", R.rotate_expr("embedding", rot, 16).alias("prefix")
        ).collect()
    }
    for r in back.select("vec_id", "prefix").collect():
        assert [round(x, 9) for x in r["prefix"]] == batch[r["vec_id"]]

    n = embs.count()
    got = ann.VectorStore(
        spark.read.parquet(store), codec=R.PcaCodec(rot, 16), embeddings=embs
    ).batch_search(
        spark.createDataFrame(
            [(0, QV)], "query_id INT, query_vec ARRAY<DOUBLE>"
        ),
        k=5, rescore=(n // 5) + 1,
    ).collect()
    # dims=16 (not d) with a corpus-covering pool: the coarse stage can
    # only order the pool, the rescore is exact over ALL of it -> exact
    want = knn_scores(embs, QV, k=5).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in got] == [
        (r["vec_id"], round(r["score"], 9)) for r in want
    ]

    with pytest.raises(ValueError, match="prefix"):
        ingest.stream_ingest(
            stream, ann._IvfRouter(ivf.centroids), store, ckpt,
            (None, quant.MrlCodec(16), R.PcaCodec(rot, 16)),
        )


def test_stream_ingest_opq_companion_equals_batch_and_serves(
    spark, embs, ivf, tmp_path
):
    """pq_rotation (r7): the streamed PQ companion is OPQ-encoded with
    a frozen basis — codes equal the batch PqCodec(rotation=) encode of the
    same rows, and the streamed-in store serves the rotated companion
    probe (single == batch, oracle-grade rounding)."""
    from ydb_vector_search_demo_spark.operators import rotation as rot

    H = rot.hadamard_rotation(DIM)
    opq_books = pq.train_pq_codebooks(embs, DIM, m=8, k_star=16, rotation=H)
    src = tmp_path / "drops"
    src.mkdir()
    store = str(tmp_path / "opq_store")
    ckpt = str(tmp_path / "ckpt_opq")
    embs.write.parquet(str(src / "batch1"))
    stream = ingest.read_embeddings_stream(spark, str(src) + "/*", dim_hint_df=embs)
    q = ingest.stream_ingest(
        stream, ann._IvfRouter(ivf.centroids), store, ckpt,
        (None, pq.PqCodec(opq_books, rotation=H)),
    )
    q.awaitTermination(120)

    batch = ann.store_rows(
        ann.ivf_assign(ivf.centroids, embs),
        codecs=(pq.PqCodec(opq_books, rotation=H),), keep_cols=("centroid_id",),
    )
    got = sorted(
        (r.vec_id, tuple(r.pq_codes), round(r.vnorm, 5))
        for r in spark.read.parquet(store).select(
            "vec_id", "pq_codes", "vnorm"
        ).collect()
    )
    want = sorted(
        (r.vec_id, tuple(r.pq_codes), round(r.vnorm, 5))
        for r in batch.select("vec_id", "pq_codes", "vnorm").collect()
    )
    assert got == want

    opq_store = ann.VectorStore(
        spark.read.parquet(store), ann._IvfRouter(ivf.centroids),
        pq.PqCodec(opq_books, rotation=H), embs,
    )
    single = [
        (r["vec_id"], round(r["score"], 9))
        for r in opq_store.search(QV, k=5, nprobe=2, rescore=4).collect()
    ]
    queries = spark.createDataFrame(
        [(0, QV)], "query_id BIGINT, query_vec ARRAY<DOUBLE>"
    )
    batch_hits = [
        (r["vec_id"], round(r["score"], 9))
        for r in opq_store.batch_search(
            queries, k=5, nprobe=2, rescore=4,
        ).collect()
    ]
    assert batch_hits == single
