"""Matryoshka prefix-dimension coarse search + exact rescore
(operators.quant.MrlCodec): the dimension axis of the bytes-for-recall
ladder.

Contracts under test:
* full-width prefix (dims = d) + rescore ≥ 1 equals exact KNN exactly;
* the persisted prefix store returns the same rows as the inline slice;
* recall is monotone-ish in dims and hits 1.0 at full width;
* the coarse plan is a TakeOrderedAndProject (no shuffle of scored
  rows) with zero Python nodes;
* predicate applies inside the coarse scan (filtered search stays
  exact over the filtered set).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann, quant
from ydb_vector_search_demo_spark.operators.knn import knn_scores
from ydb_vector_search_demo_spark.pipeline import rag
from ydb_vector_search_demo_spark.sources.tables import load_table

QV = rag.embed_query_stub("fast scan table row value")


@pytest.fixture(scope="module")
def embs(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _mrl(relation, dims):
    """The inline Matryoshka store: the ``dims``-prefix sliced from the
    float column of ``relation``, which also serves the rescore."""
    return ann.VectorStore(
        relation, codec=quant.MrlCodec(dims, quant.mrl_prefix("embedding", dims))
    )


def _prefix_store(path, embs):
    """The persisted 16-dim prefix store, rescored from ``embs``."""
    return ann.VectorStore(
        embs.sparkSession.read.parquet(path), codec=quant.MrlCodec(16),
        embeddings=embs,
    )


def _int8_prefix_store(path, embs):
    """The persisted int8-quantized 16-dim prefix store."""
    return ann.VectorStore(
        embs.sparkSession.read.parquet(path), codec=quant.Int8Codec(dims=16),
        embeddings=embs,
    )


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_full_width_equals_exact(embs):
    exact = knn_scores(embs, QV, k=10).collect()
    mrl = _mrl(embs, len(QV)).search(QV, k=10, rescore=1).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in exact] == [
        (r["vec_id"], round(r["score"], 9)) for r in mrl
    ]


def test_parquet_prefix_store_equals_inline(embs, tmp_path):
    path = str(tmp_path / "mrl_prefix")
    ann.write_store(embs, path, codecs=(quant.MrlCodec(16),))
    spark = embs.sparkSession
    inline = _mrl(embs, 16).search(QV, k=5, rescore=4).collect()
    stored = _prefix_store(path, embs).search(QV, k=5,
                                      rescore=4).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in stored]
    # the prefix store physically holds 16-wide arrays
    pref = spark.read.parquet(path)
    assert pref.selectExpr("max(size(prefix)) m").first()["m"] == 16


def test_recall_report_full_width_is_one(spark, embs):
    rep = {
        r["dims"]: r
        for r in quant.mrl_recall(
            spark, embs, QV, dims_list=(8, 64), k=10, rescore=4
        ).collect()
    }
    assert rep[64]["recall_coarse"] == 1.0
    assert rep[64]["recall_rescored"] == 1.0
    assert 0.0 <= rep[8]["recall_coarse"] <= 1.0
    # rescore can only help: rescored recall >= coarse recall at any width
    assert rep[8]["recall_rescored"] >= rep[8]["recall_coarse"]


def test_coarse_plan_shape(embs):
    df = _mrl(embs, 16).search(QV, k=5, rescore=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_predicate_filters_inside_coarse(embs):
    out = _mrl(embs, 16).search(
        QV, k=5, rescore=4, predicate="vec_id % 2 = 0"
    ).collect()
    assert len(out) == 5
    assert all(r["vec_id"] % 2 == 0 for r in out)
    # exact over the filtered set: equals exact KNN on the filtered corpus
    # at full probe width
    from pyspark.sql import functions as F

    filtered = embs.filter(F.expr("vec_id % 2 = 0"))
    exact = _mrl(filtered, len(QV)).search(QV, k=5, rescore=1).collect()
    got_ids = [r["vec_id"] for r in out]
    # rescore=4 at dims=16 may differ from exact in pathological corpora;
    # assert the guaranteed part: both are subsets of the filtered corpus
    # and the full-width run is exactly the filtered exact top-5
    assert [r["vec_id"] for r in exact] == _ids(
        knn_scores(filtered, QV, k=5)
    )
    assert set(got_ids) <= {r["vec_id"] for r in filtered.select("vec_id").collect()}


def test_mrl_quantized_store_composes(embs, tmp_path):
    """int8-quantized prefix store: coarse bytes = d'/d x 1/4 of float
    full-width; full-width dims + rescore covering the corpus recovers
    exact KNN (the coarse->rescore guarantee survives both losses)."""
    spark = embs.sparkSession
    path = str(tmp_path / "mrl_q16")
    ann.write_store(embs, path, codecs=(quant.Int8Codec(dims=16),))
    store = spark.read.parquet(path)
    row = store.first()
    assert len(row["qprefix"]) == 16
    assert store.schema["qprefix"].dataType.simpleString() == "array<tinyint>"

    out = _int8_prefix_store(path, embs).search(QV, k=5, rescore=4).collect()
    assert len(out) == 5
    # exactness at the degenerate point: rescore pool = whole corpus
    n = embs.count()
    full = _int8_prefix_store(path, embs).search(
        QV, k=5, rescore=(n // 5) + 1
    ).collect()
    exact = knn_scores(embs, QV, k=5).collect()
    assert [(r["vec_id"], round(r["score"], 9)) for r in full] == [
        (r["vec_id"], round(r["score"], 9)) for r in exact
    ]


def test_mrl_quantized_bytes_are_smaller(embs, tmp_path):
    """The composed store must be materially smaller on disk than the
    float store (the whole point of the lever)."""
    import os

    fl = str(tmp_path / "float_store")
    qp = str(tmp_path / "mrl_q_store")
    embs.select("vec_id", "embedding").write.parquet(fl)
    ann.write_store(embs, qp, codecs=(quant.Int8Codec(dims=16),))

    def du(p):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")
        )

    assert du(qp) * 3 < du(fl), (du(qp), du(fl))


# ------------------------------------------------------------- batch axis

QUERIES_B = ["hash join spark", "window order data", "customer query line"]
QVS_B = [rag.embed_query_stub(q) for q in QUERIES_B]


@pytest.fixture(scope="module")
def qdf(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(QVS_B)],
        "query_id INT, query_vec ARRAY<DOUBLE>",
    )


def _by_query(rows):
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    return got


def test_mrl_batch_equals_single_query_loop(embs, qdf):
    got = _by_query(
        _mrl(embs, 16).batch_search(qdf, k=5, rescore=4).collect()
    )
    for qid, qv in enumerate(QVS_B):
        single = _mrl(embs, 16).search(qv, k=5, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_mrl_batch_parquet_equals_loop(embs, qdf, tmp_path):
    spark = embs.sparkSession
    path = str(tmp_path / "mrl_prefix_b")
    ann.write_store(embs, path, codecs=(quant.MrlCodec(16),))
    got = _by_query(
        _prefix_store(path, embs).batch_search(qdf, k=5, rescore=4).collect()
    )
    for qid, qv in enumerate(QVS_B):
        single = _prefix_store(path, embs).search(qv, k=5, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_mrl_quantized_batch_parquet_equals_loop(embs, qdf, tmp_path):
    spark = embs.sparkSession
    path = str(tmp_path / "mrl_q_b")
    ann.write_store(embs, path, codecs=(quant.Int8Codec(dims=16),))
    got = _by_query(
        _int8_prefix_store(path, embs).batch_search(qdf, k=5, rescore=4).collect()
    )
    for qid, qv in enumerate(QVS_B):
        single = _int8_prefix_store(path, embs).search(qv, k=5, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_mrl_batch_full_width_equals_exact_batch(embs, qdf):
    """dims = d + corpus-covering pool degenerates to exact batch KNN."""
    from ydb_vector_search_demo_spark.operators.knn import batch_knn

    n = embs.count()
    d = len(QVS_B[0])
    got = _by_query(
        _mrl(embs, d).batch_search(qdf, k=5, rescore=(n // 5) + 1).collect()
    )
    exact = _by_query(batch_knn(qdf, embs, k=5).collect())
    assert got == exact


def test_mrl_batch_plan_shape(embs, qdf):
    """Coarse + cut stay JVM-side: no Python nodes, WindowGroupLimit cut."""
    df = _mrl(embs, 16).batch_search(qdf, k=5, rescore=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan
