"""Learned-rotation prefix search (operators/rotation.py): the PCA/OPQ
basis lever in front of the Matryoshka prefix machinery.

Laws pinned here:
* rotate_expr (JVM Column) is bit-identical to the driver-side
  rotate_vector fold — same multiply-add order, same doubles;
* a rotation preserves full-width distances, so prefix search at
  dims=d with exact rescore equals exact KNN row-for-row;
* on a LOW-RANK corpus (where prefix recall is decided by the basis)
  the PCA prefix beats the plain prefix decisively — the whole point
  of fitting the rotation;
* the fit is partitioning-independent (seeded-md5 sample ranking);
* the persisted rotated-prefix store serves the same rows as the
  in-memory path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.functions.vector import distance
from ydb_vector_search_demo_spark.operators import ann
from ydb_vector_search_demo_spark.operators import rotation as R
from ydb_vector_search_demo_spark.operators.ann import VectorStore
from ydb_vector_search_demo_spark.operators.knn import knn_scores
from ydb_vector_search_demo_spark.sources.tables import load_table

QV = [((i * 37) % 29 - 14) / 14.0 for i in range(64)]


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_rotate_expr_matches_driver_fold(spark, sf_oracle):
    embs = load_table(spark, sf_oracle, "embeddings").limit(20)
    rot = R.hadamard_rotation(64)
    got = embs.select(
        "vec_id", R.rotate_expr("embedding", rot, 16).alias("r")
    ).collect()
    raw = {r["vec_id"]: list(r["embedding"]) for r in
           embs.select("vec_id", "embedding").collect()}
    for row in got:
        expect = R.rotate_vector([float(x) for x in raw[row["vec_id"]]], rot)[:16]
        assert list(row["r"]) == expect  # bitwise: same fold order


def _inline(embs, rot, dims):
    """The rotated-prefix store over the float relation itself: the
    ``dims``-prefix is rotated inline from ``embedding``."""
    return VectorStore(embs, codec=R.PcaCodec(rot, dims, inline_col="embedding"))


def _stored(path, embs, rot):
    """The persisted 16-dim rotated-prefix store, rescored from ``embs``."""
    return VectorStore(
        embs.sparkSession.read.parquet(path), codec=R.PcaCodec(rot, 16),
        embeddings=embs,
    )


def test_hadamard_is_orthonormal():
    rot = R.hadamard_rotation(64)
    n = len(rot)
    for i in range(0, n, 17):
        for j in range(0, n, 17):
            d = sum(a * b for a, b in zip(rot[i], rot[j]))
            assert d == pytest.approx(1.0 if i == j else 0.0, abs=1e-12)


def test_full_width_rotation_equals_exact_knn(spark, sf_oracle):
    embs = load_table(spark, sf_oracle, "embeddings")
    rot = R.fit_pca_rotation(embs, sample=256)
    got = _rows(
        _inline(embs, rot, 64).search(QV, k=5, rescore=4)
    )
    exact = _rows(knn_scores(embs, QV, k=5))
    assert [g[0] for g in got] == [e[0] for e in exact]
    for g, e in zip(got, exact):
        assert g[1] == pytest.approx(e[1], abs=1e-12)


def test_fit_is_partitioning_independent(spark, sf_oracle):
    embs = load_table(spark, sf_oracle, "embeddings")
    a = R.fit_pca_rotation(embs, sample=128)
    b = R.fit_pca_rotation(embs.repartition(7), sample=128)
    assert a == b


def _low_rank_corpus(spark, n=300, d=32, rank=6, seed=7):
    """Rank-6 data spread across all d coordinates by a dense random
    mixing matrix + tiny isotropic noise: the plain d'-prefix sees an
    arbitrary d'-slice of the mixed coordinates while PCA recovers the
    signal subspace — the case the rotation exists for."""
    import numpy as np

    rng = np.random.default_rng(seed)
    Z = rng.normal(size=(n, rank))
    A = rng.normal(size=(rank, d))
    X = Z @ A + 0.01 * rng.normal(size=(n, d))
    return spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    ), X


def test_pca_prefix_beats_plain_prefix_on_low_rank_corpus(spark):
    from ydb_vector_search_demo_spark.operators.ann import recall_at_k
    from ydb_vector_search_demo_spark.operators.quant import mrl_coarse_distance

    df, X = _low_rank_corpus(spark)
    df = df.cache()
    qv = [float(v) for v in X[0]]
    rot = R.fit_pca_rotation(df, sample=300)
    exact = [r[0] for r in knn_scores(df, qv, k=10).collect()]

    def coarse(score):
        return [
            r[0]
            for r in df.select("vec_id", score.alias("s"))
            .orderBy(F.col("s").asc_nulls_last(), F.col("vec_id"))
            .limit(10)
            .collect()
        ]

    rq = R.rotate_vector(qv, rot)[:6]
    pca = coarse(distance(R.rotate_expr("embedding", rot, 6), F.lit(rq), "cosine"))
    plain = coarse(mrl_coarse_distance("embedding", qv, 6, "cosine"))
    r_pca = recall_at_k(exact, pca)
    r_plain = recall_at_k(exact, plain)
    df.unpersist()
    assert r_pca >= 0.8
    assert r_pca >= r_plain


def test_parquet_store_serves_same_rows(spark, sf_oracle, tmp_path):
    embs = load_table(spark, sf_oracle, "embeddings")
    rot = R.fit_pca_rotation(embs, sample=256)
    path = str(tmp_path / "rotstore")
    ann.write_store(embs, path, codecs=(R.PcaCodec(rot, 16),))
    served = _rows(
        _stored(path, embs, rot).search(QV, k=5, rescore=4)
    )
    inline = _rows(
        _inline(embs, rot, 16).search(QV, k=5, rescore=4)
    )
    assert served == inline


def test_recall_report_shape(spark, sf_oracle):
    embs = load_table(spark, sf_oracle, "embeddings")
    rep = R.pca_recall_report(
        spark, embs, QV, dims_list=(8, 16), k=10, rescore=4, sample=256
    ).collect()
    assert [r["dims"] for r in rep] == [8, 16]
    for r in rep:
        for c in ("plain_coarse", "pca_coarse", "plain_rescored", "pca_rescored"):
            assert 0.0 <= r[c] <= 1.0
        # exact rescore can only help a coarse pool
        assert r["pca_rescored"] >= r["pca_coarse"] - 1e-9


# ---------------------------------------------------------------------------
# batch paths (r5 verdict task #4): the learned-basis lever joins the
# "complete batch matrix" — same laws as tests/test_mrl.py's batch block.

QUERIES_B = [
    [((i * 31 + 7 * q) % 23 - 11) / 11.0 for i in range(64)] for q in range(3)
]


@pytest.fixture()
def qdf(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(QUERIES_B)],
        "query_id INT, query_vec ARRAY<DOUBLE>",
    )


def _by_query(rows):
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], round(r["score"], 9))
        )
    return got


def test_pca_batch_equals_single_query_loop(spark, sf_oracle, qdf):
    embs = load_table(spark, sf_oracle, "embeddings")
    rot = R.fit_pca_rotation(embs, sample=256)
    got = _by_query(
        _inline(embs, rot, 16).batch_search(qdf, k=5, rescore=4).collect()
    )
    for qid, qv in enumerate(QUERIES_B):
        single = _inline(embs, rot, 16).search(qv, k=5, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_pca_batch_parquet_equals_loop(spark, sf_oracle, qdf, tmp_path):
    embs = load_table(spark, sf_oracle, "embeddings")
    rot = R.hadamard_rotation(64)
    path = str(tmp_path / "rotstore_b")
    ann.write_store(embs, path, codecs=(R.PcaCodec(rot, 16),))
    got = _by_query(
        _stored(path, embs, rot).batch_search(qdf, k=5, rescore=4).collect()
    )
    for qid, qv in enumerate(QUERIES_B):
        single = _stored(path, embs, rot).search(qv, k=5, rescore=4).collect()
        want = [
            (i + 1, r["vec_id"], round(r["score"], 9))
            for i, r in enumerate(single)
        ]
        assert sorted(got[qid]) == want, f"query {qid}"


def test_pca_batch_full_width_equals_exact_batch(spark, sf_oracle, qdf):
    """dims = d + corpus-covering pool degenerates to exact batch KNN:
    the rotation preserves full-width distances, so the coarse order at
    d'=d is the exact order and the rescore pool covers the corpus."""
    from ydb_vector_search_demo_spark.operators.knn import batch_knn

    embs = load_table(spark, sf_oracle, "embeddings")
    rot = R.fit_pca_rotation(embs, sample=256)
    n = embs.count()
    got = _by_query(
        _inline(embs, rot, 64)
        .batch_search(qdf, k=5, rescore=(n // 5) + 1)
        .collect()
    )
    exact = _by_query(batch_knn(qdf, embs, k=5).collect())
    assert got == exact


def test_pca_batch_plan_shape(spark, sf_oracle, qdf):
    """Coarse + cut stay JVM-side: no Python nodes, WindowGroupLimit cut."""
    embs = load_table(spark, sf_oracle, "embeddings")
    rot = R.hadamard_rotation(64)
    df = _inline(embs, rot, 16).batch_search(qdf, k=5, rescore=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan


# ------------------------------------------------------ basis drift (r7)


def test_captured_energy_fraction_full_width_is_one(spark, sf_oracle):
    """Law: any orthonormal basis captures the full energy at d' = d
    (‖Rx‖ = ‖x‖), and a d'-prefix captures at most that."""
    embs = load_table(spark, sf_oracle, "embeddings")
    H = R.hadamard_rotation(64)
    assert R.captured_energy_fraction(embs, H, dims=64) == pytest.approx(1.0, abs=1e-9)
    part = R.captured_energy_fraction(embs, H, dims=16)
    assert 0.0 < part < 1.0


def test_rotation_drift_planted_shift_detection_and_refit(spark, sf_oracle, tmp_path):
    """The full maintenance loop on the FITTED PCA basis: an
    in-distribution batch passes the gate; a batch with energy pumped
    into a tail basis direction trips it; refit_rotation returns a
    fresh basis whose prefix re-captures the shifted direction (post
    ratio healthy — loop observably closed)."""
    import pyspark.sql.functions as F

    embs = load_table(spark, sf_oracle, "embeddings")
    basis = R.fit_pca_rotation(embs, sample=256)
    base = R.captured_energy_fraction(embs, basis, dims=16)
    healthy = R.rotation_drift_report(
        spark, embs.filter(F.col("vec_id") % 3 == 0), basis, base, dims=16
    ).collect()[0]
    assert not healthy.refit_recommended
    assert healthy.capture_ratio == pytest.approx(1.0, abs=0.2)
    # plant the shift along the basis's LAST component — orthogonal to
    # the 16-prefix by construction, so captured energy collapses
    tail = basis[-1]
    drifted = embs.select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.lit(tail),
            lambda x, h: x + (F.col("vec_id") % 5).cast("double") * F.lit(2.0) * h,
        ).alias("embedding"),
    )
    tripped = R.rotation_drift_report(
        spark, drifted, basis, base, dims=16
    ).collect()[0]
    assert tripped.refit_recommended
    assert tripped.capture_ratio < 0.5
    # drift_batch gate (the pq.refit_pq contract): healthy merged
    # corpus, drifted batch — gating on the batch recommends the refit
    merged = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(drifted)
    assert R.refit_rotation(spark, embs, basis, base, dims=16,
                            drift_batch=embs.limit(50), sample=256) is None
    out = R.refit_rotation(
        spark, merged, basis, base, dims=16, drift_batch=drifted, sample=256
    )
    assert out is not None
    new_rot, new_base = out
    post = R.rotation_drift_report(
        spark, drifted, new_rot, new_base, dims=16
    ).collect()[0]
    assert not post.refit_recommended


def test_refit_rotation_opq_variant_returns_allocated_basis(spark, sf_oracle):
    """m= routes the refit through fit_opq_rotation (the OPQ basis for
    rotated-PQ stores): forced refit returns an orthonormal basis."""
    import numpy as np

    embs = load_table(spark, sf_oracle, "embeddings")
    basis = R.hadamard_rotation(64)
    base = R.captured_energy_fraction(embs, basis, dims=16)
    new_rot, new_base = R.refit_rotation(
        spark, embs, basis, base, dims=16, m=8, force=True, sample=256
    )
    Rm = np.array(new_rot)
    assert np.abs(Rm @ Rm.T - np.eye(64)).max() < 1e-9
    assert 0.0 < new_base <= 1.0 + 1e-9
