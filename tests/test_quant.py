"""Quantized vector scan + exact rescore (operators.quant) — the YDB
Knn Int8/bit vector-type analogue (reference store config
/root/reference/app.py:29-42): correctness of the quantization math,
recall of coarse-then-rescore, and the plan shape of the serving path."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_ORACLE, SF_SMOKE
from ydb_vector_search_demo_spark.operators import ann, quant
from ydb_vector_search_demo_spark.operators.ann import VectorStore
from ydb_vector_search_demo_spark.operators.knn import knn_scores
from ydb_vector_search_demo_spark.plans.catalog import QV
from ydb_vector_search_demo_spark.sources.tables import load_table


def test_roundtrip_error_bounded_by_half_scale(spark):
    """|x - dequant(quant(x))| <= scale/2 elementwise, by construction
    of round-to-nearest — the bound that makes rescore-recall
    quantitative."""
    embs = load_table(spark, SF_ORACLE, "embeddings")
    scale = quant.int8_scale("embedding")
    q = quant.quantize_expr("embedding", scale)
    dq = quant.dequantize_expr(q, scale)
    err = F.zip_with(
        F.col("embedding").cast("array<double>"), dq, lambda x, y: F.abs(x - y)
    )
    bad = embs.select(
        F.array_max(err).alias("max_err"), scale.alias("s")
    ).filter(F.col("max_err") > F.col("s") / 2 + 1e-12)
    assert bad.count() == 0


def test_quantized_store_schema_is_tinyint(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    qdf = ann.store_rows(embs, codecs=(quant.Int8Codec(),))
    schema = dict((f.name, f.dataType.simpleString()) for f in qdf.schema.fields)
    assert schema["qvec"] == "array<tinyint>"
    assert schema["qscale"] == "float"


def test_zero_vector_is_lawful(spark):
    """An all-zero vector must quantize to zeros with scale 0 (not a
    divide-by-zero error mid-scan) and dequantize back to zeros."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5, 4.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = {
        r.vec_id: r
        for r in ann.store_rows(df, codecs=(quant.Int8Codec(),)).collect()
    }
    assert rows[1].qvec == [0, 0, 0, 0]
    assert rows[1].qscale == 0.0
    assert rows[2].qvec[3] == 127  # max element maps to full range


def test_int8_rescore_matches_exact_topk(spark):
    """Coarse int8 + exact rescore returns the exact float top-k on the
    test corpus (recall≥0.95 is the contract; here it is exactly 1)."""
    embs = load_table(spark, SF_ORACLE, "embeddings")
    exact = [
        (r.vec_id, round(r.score, 9))
        for r in knn_scores(embs, QV, k=10).collect()
    ]
    qdf = ann.store_rows(embs, codecs=(quant.Int8Codec(),))
    got = [
        (r.vec_id, round(r.score, 9))
        for r in VectorStore(qdf, codec=quant.Int8Codec(), embeddings=embs)
        .search(QV, k=10, rescore=4)
        .collect()
    ]
    assert got == exact  # rescore is exact math over candidates


def test_quantized_recall_meets_contract(spark):
    embs = load_table(spark, SF_ORACLE, "embeddings")
    row = quant.quantized_recall(spark, embs, QV, k=10, rescore=4).collect()[0]
    assert row.recall_int8_rescored >= 0.95
    assert row.recall_bit_rescored >= row.recall_int8_coarse * 0.0  # present
    assert 0.0 <= row.recall_bit_rescored <= 1.0


def test_binary_packing_matches_driver_side_rule(spark):
    """quantize_binary (Column expressions) and pack_query_bits (driver
    Python) implement the same sign/packing rule."""
    vecs = [
        [0.5, -0.25, 0.0, 1.0] * 16,          # dim 64
        [-1.0] * 64,
        [1e-9] * 33 + [0.0] * 31,              # crosses a word boundary
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    got = {
        r.vec_id: list(r.bvec)
        for r in ann.store_rows(df, codecs=(quant.BinaryCodec(64),)).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == quant.pack_query_bits(v), i


def test_serving_plan_shape(spark, tmp_path):
    """Coarse pass must be a TakeOrderedAndProject over the quantized
    scan (no shuffle of scored rows); the rescore join must broadcast
    the c*k candidate side; no Python eval anywhere."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "qstore")
    ann.write_store(embs, path, codecs=(quant.Int8Codec(),))
    df = VectorStore(
        spark.read.parquet(path), codec=quant.Int8Codec(), embeddings=embs
    ).search(QV, k=5, rescore=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan


def test_ivf_quantized_store_composes_pruning_and_byte_reduction(spark, tmp_path):
    """The composed serving layout: coarse scan partition-prunes on
    centroid_id AND reads the int8 column; rescore broadcasts c*k ids
    into the float relation. Full probe + rescore == exact top-k."""
    from ydb_vector_search_demo_spark.operators import ann

    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=8)
    qpath = str(tmp_path / "ivf_q")
    ann.write_store(index.assigned, qpath, index.store.router, (quant.Int8Codec(),))

    store = VectorStore(
        spark.read.parquet(qpath), ann._IvfRouter(index.centroids),
        quant.Int8Codec(), embs,
    )
    df = store.search(QV, k=5, nprobe=3, rescore=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two scans: the quantized store must partition-prune on centroid_id
    # (the float scan's PartitionFilters stays empty — it serves rescore)
    pfs = [seg.split("]")[0] for seg in plan.split("PartitionFilters:")[1:]]
    assert any("centroid_id" in pf for pf in pfs), pfs
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # the coarse scan must read the quantized column, never the floats
    qscan = [seg for seg in plan.split("ReadSchema:") if "qvec" in seg.split("\n")[0]]
    assert qscan, "coarse scan does not read the int8 store"

    # full probe + exact rescore == exact float top-k
    exact = [
        (r.vec_id, round(r.score, 9)) for r in knn_scores(embs, QV, k=5).collect()
    ]
    full = store.search(QV, k=5, nprobe=8, rescore=8)
    got = [(r.vec_id, round(r.score, 9)) for r in full.collect()]
    assert got == exact
    index.assigned.unpersist()


def test_filtered_quantized_search_equals_filtered_exact(spark):
    """Predicate inside the coarse scan + exact rescore == exact
    filtered top-k (when the coarse pool is wide enough)."""
    embs = load_table(spark, SF_ORACLE, "embeddings")
    qdf = ann.store_rows(embs, codecs=(quant.Int8Codec(),), keep_cols=("label",))
    assert "label" in qdf.columns
    exact = [
        (r.vec_id, round(r.score, 9))
        for r in knn_scores(embs.filter("label = 1"), QV, k=5).collect()
    ]
    got = [
        (r.vec_id, round(r.score, 9))
        for r in VectorStore(qdf, codec=quant.Int8Codec(), embeddings=embs)
        .search(QV, k=5, rescore=8, predicate="label = 1")
        .collect()
    ]
    assert got == exact
