"""Product quantization + ADC (operators.pq): encode/score math against
a driver-side reimplementation, recall contract, and plan shape."""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann, pq
from ydb_vector_search_demo_spark.operators.knn import knn_scores
from ydb_vector_search_demo_spark.plans.catalog import QV
from ydb_vector_search_demo_spark.sources.tables import load_table

FIXED_BOOKS = [
    [[0.1 * (c + 1) * ((i + j) % 3 - 1) for i in range(8)] for c in range(4)]
    for j in range(2)
]  # m=2 subspaces × k*=4 × 8 dims → dim 16


def _encode_py(v):
    codes = []
    for j, book in enumerate(FIXED_BOOKS):
        sub = v[j * 8 : j * 8 + 8]
        d = [sum((a - b) ** 2 for a, b in zip(sub, c)) for c in book]
        codes.append(d.index(min(d)))
    return codes


def test_encode_and_adc_match_driver_side_math(spark):
    vecs = [[math.sin(i * 0.7 + s) for i in range(16)] for s in range(6)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    got = {
        r.vec_id: (list(r.pq_codes), r.vnorm)
        for r in ann.store_rows(df, codecs=(pq.PqCodec(FIXED_BOOKS),)).collect()
    }
    q = [0.3] * 16
    lut = pq.adc_lut(q, FIXED_BOOKS, "euclidean")
    import pyspark.sql.functions as F

    scores = {
        r.vec_id: r.s
        for r in ann.store_rows(df, codecs=(pq.PqCodec(FIXED_BOOKS),))
        .select("vec_id", pq.adc_score("pq_codes", lut, "euclidean", q).alias("s"))
        .collect()
    }
    for i, v in enumerate(vecs):
        exp_codes = _encode_py(v)
        assert got[i][0] == exp_codes, i
        assert got[i][1] == pytest.approx(math.sqrt(sum(x * x for x in v)), rel=1e-6)
        exp_score = sum(lut[j][exp_codes[j]] for j in range(2))
        assert scores[i] == pytest.approx(exp_score, rel=1e-9)


def test_subspace_bounds_rejects_ragged_split():
    with pytest.raises(ValueError):
        pq.subspace_bounds(10, 3)
    with pytest.raises(ValueError):
        pq.train_pq_codebooks(None, 64, k_star=200)


def test_pq_rescore_meets_recall_contract(spark):
    embs = load_table(spark, SF_ORACLE, "embeddings")
    row = pq.pq_recall(
        spark, embs, QV, dim=64, m=8, k_star=64, k=10, rescore=8,
        fit_sample_fraction=0.5,
    ).collect()[0]
    assert row.recall_adc_rescored >= 0.9, row
    assert row.compression_x > 20


def test_pq_store_schema_and_plan_shape(spark, tmp_path):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    books = pq.train_pq_codebooks(embs, 64, m=4, k_star=16)
    path = str(tmp_path / "pq_store")
    ann.write_store(embs, path, codecs=(pq.PqCodec(books),))
    stored = spark.read.parquet(path)
    schema = {f.name: f.dataType.simpleString() for f in stored.schema.fields}
    assert schema["pq_codes"] == "array<tinyint>"
    assert schema["vnorm"] == "float"

    store = ann.VectorStore(stored, codec=pq.PqCodec(books), embeddings=embs)
    df = store.search(QV, k=5, rescore=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan

    # full-corpus candidate pool + exact rescore == exact top-k
    exact = [
        (r.vec_id, round(r.score, 9)) for r in knn_scores(embs, QV, k=5).collect()
    ]
    big_c = stored.count() // 5 + 1
    got = [
        (r.vec_id, round(r.score, 9))
        for r in store.search(QV, k=5, rescore=big_c).collect()
    ]
    assert got == exact


def test_ivfpq_full_probe_full_pool_equals_exact(spark, tmp_path):
    """nprobe = all cells + candidate pool = whole corpus must collapse
    IVF-PQ to exact KNN (the invariant that pins the machinery)."""
    from ydb_vector_search_demo_spark.operators import ann

    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=4)
    books = pq.train_ivfpq_codebooks(index, 64, m=4, k_star=16)
    path = str(tmp_path / "ivfpq")
    ann.write_store(
        index.assigned, path, index.store.router, (pq.PqCodec(books, index.centroids),),
    )

    exact = [
        (r.vec_id, round(r.score, 9)) for r in knn_scores(embs, QV, k=5).collect()
    ]
    n = embs.count()
    got_df = ann.VectorStore(
        spark.read.parquet(path), ann._IvfRouter(index.centroids),
        pq.PqCodec(books, index.centroids), embs,
    ).search(QV, k=5, nprobe=4, rescore=n // 5 + 1)
    got = [(r.vec_id, round(r.score, 9)) for r in got_df.collect()]
    assert got == exact
    index.assigned.unpersist()


def test_ivfpq_plan_prunes_and_stays_jvm(spark, tmp_path):
    from ydb_vector_search_demo_spark.operators import ann

    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=8)
    books = pq.train_ivfpq_codebooks(index, 64, m=4, k_star=16)
    path = str(tmp_path / "ivfpq_plan")
    ann.write_store(
        index.assigned, path, index.store.router, (pq.PqCodec(books, index.centroids),),
    )
    df = ann.VectorStore(
        spark.read.parquet(path), ann._IvfRouter(index.centroids),
        pq.PqCodec(books, index.centroids), embs,
    ).search(QV, k=5, nprobe=3, rescore=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pfs = [seg.split("]")[0] for seg in plan.split("PartitionFilters:")[1:]]
    assert any("centroid_id" in pf for pf in pfs), pfs
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan
    index.assigned.unpersist()


def test_ivfpq_recall_report(spark, tmp_path):
    from ydb_vector_search_demo_spark.operators import ann

    embs = load_table(spark, SF_ORACLE, "embeddings")
    row = pq.ivfpq_recall(
        spark, embs, QV, dim=64, tmp_path=str(tmp_path / "store"),
        k_clusters=16, m=8, k_star=64, k=10, nprobe=8, rescore=8,
        fit_sample_fraction=0.5,
    ).collect()[0]
    assert row.recall >= 0.8, row
    assert row.bytes_per_vector == 12.0
    ann.clear_index_cache()


# --------------------------------------------------------- codebook drift


def test_reconstruction_error_matches_driver_side_math(spark):
    """error expr == ||x - decode(encode(x))||^2 computed in Python."""
    vecs = [[math.sin(i * 0.7 + s) for i in range(16)] for s in range(6)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    got = {
        r.vec_id: r.e
        for r in df.select(
            "vec_id",
            pq.reconstruction_error_expr("embedding", FIXED_BOOKS).alias("e"),
        ).collect()
    }
    for i, v in enumerate(vecs):
        codes = _encode_py(v)
        want = sum(
            (a - b) ** 2
            for j, c in enumerate(codes)
            for a, b in zip(v[j * 8 : j * 8 + 8], FIXED_BOOKS[j][c])
        )
        assert got[i] == pytest.approx(want, rel=1e-9), f"row {i}"


def test_drift_report_flags_planted_shift(spark):
    """In-distribution batch: ratio ~= 1, no refit. Shifted batch:
    reconstruction error blows past threshold, refit recommended; a
    refit on the drifted data brings its error back down."""
    import pyspark.sql.functions as F

    embs = load_table(spark, SF_SMOKE, "embeddings")
    dim = len(QV)
    books = pq.train_pq_codebooks(embs, dim, m=4, k_star=8)
    baseline = pq.pq_quantization_mse(embs, books)
    assert baseline > 0.0

    ok = pq.pq_drift_report(spark, embs, books, baseline).first()
    assert ok.mse_ratio == pytest.approx(1.0, rel=1e-6)
    assert not ok.refit_recommended

    drifted = embs.select(
        "vec_id",
        F.transform("embedding", lambda x: x * 3.0 + 5.0).alias("embedding"),
    )
    bad = pq.pq_drift_report(spark, drifted, books, baseline).first()
    assert bad.mse_ratio > bad.threshold and bad.refit_recommended

    refit = pq.train_pq_codebooks(drifted, dim, m=4, k_star=8)
    healed = pq.pq_quantization_mse(drifted, refit)
    assert healed < bad.batch_mse / 2


def test_drift_report_zero_baseline_guard(spark):
    """Perfectly-reconstructed baseline (constant corpus): identical
    batch -> ratio 0 / no refit; any divergence -> refit recommended."""
    const = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(8)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    books = pq.train_pq_codebooks(const, 16, m=2, k_star=4)
    base = pq.pq_quantization_mse(const, books)
    assert base == 0.0
    same = pq.pq_drift_report(spark, const, books, base).first()
    assert same.mse_ratio == 0.0 and not same.refit_recommended
    other = spark.createDataFrame(
        [(i, [2.5] * 16) for i in range(8)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    diff = pq.pq_drift_report(spark, other, books, base).first()
    assert diff.refit_recommended and diff.mse_ratio == float("inf")


def test_drift_error_stays_jvm_side(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    books = pq.train_pq_codebooks(embs, len(QV), m=4, k_star=8)
    df = embs.select(
        pq.reconstruction_error_expr("embedding", books).alias("e")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan
