"""Learned orthogonal rotation (PCA basis) for prefix-dimension search.

The Matryoshka prefix machinery (operators.quant.mrl_*) assumes the
leading coordinates carry most of the signal — true for MRL-trained
embeddings, false in general, and the repo's own ``mrl_recall_report``
honestly shows low prefix recall on the synthetic non-MRL corpus. The
classical fix (OPQ/PCA rotation, Jégou et al.; Ge et al. 2013) is an
orthogonal change of basis that sorts coordinates by variance, so a
d'-prefix of the ROTATED vector is the best d'-dimensional linear view
of the data in the L2 sense. Because the map is a pure rotation
(orthonormal rows, NO mean subtraction), L2 distances, inner products
and norms — hence cosine — are preserved exactly; the prefix coarse
stage is the only approximation, and the exact full-width rescore from
the original float column keeps the final top-k exact, same as every
other coarse→rescore path in this engine.

Reference analogue: the rotation is a refinement of the ANN path the
reference leaves disabled (`index_enabled=False`,
/root/reference/app.py:37) — the coarse-scan byte/flop lever, composed
with the existing MRL machinery rather than a new serving path.

Scale shape: the fit is the sampled-fit pattern shared with
``build_ivf_index`` (a deterministic seeded sample to the driver; a
64×64 eigendecomposition costs microseconds and a 100 TB corpus's
covariance is estimated from a bounded sample). The rotation matrix
travels as a plan literal (d×d doubles ≈ 32 KB at d=64), the rotated
prefix is pure JVM Column arithmetic (transform/zip_with/aggregate),
and only the d'-row slice of the matrix is evaluated in the coarse
scan — a d'·d multiply-add per row, inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField

from ydb_vector_search_demo_spark.functions.vector import distance, dot
from ydb_vector_search_demo_spark.operators.ann import (
    VectorStore,
    _Codec,
    recall_at_k,
    write_store,
)
from ydb_vector_search_demo_spark.operators.knn import knn_scores, vector_literal
from ydb_vector_search_demo_spark.session import _evict, _get_or_write

Rotation = list[list[float]]


def _pca_eig(
    embeddings: DataFrame,
    sample: int,
    seed: int,
    id_col: str,
    vector_col: str,
) -> tuple[list[float], Rotation]:
    """Shared fit core: (variance-descending eigenvalues, matching
    sign-normalized eigenvector rows) from the deterministic seeded
    sample — see :func:`fit_pca_rotation` for the determinism
    contract."""
    import numpy as np

    rows = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vector_col).alias("_v"))
        .orderBy(
            F.md5(F.concat(F.lit(f"pca:{seed}:"), F.col("_id").cast("string"))),
            F.col("_id").asc(),
        )
        .limit(int(sample))
        .collect()
    )
    X = np.array([[float(x) for x in r["_v"]] for r in rows], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    cov = (Xc.T @ Xc) / max(len(X) - 1, 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    R = vecs[:, order].T  # rows = components, variance-descending
    for i in range(R.shape[0]):
        j = int(np.argmax(np.abs(R[i])))
        if R[i, j] < 0:
            R[i] = -R[i]
    return (
        [float(vals[i]) for i in order],
        [[float(v) for v in row] for row in R],
    )


def fit_pca_rotation(
    embeddings: DataFrame,
    sample: int = 8192,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> Rotation:
    """Fit the variance-descending orthonormal basis on a deterministic
    sample: rows ranked by a seeded md5 of their id (the same
    partitioning-independent draw as ``curation.stratified_sample``),
    covariance of the mean-centered sample, ``eigh``, eigenvectors
    sorted by descending eigenvalue and sign-normalized (the
    largest-|component| coordinate is made positive) so the fit is
    bit-reproducible across runs and partitionings. Returns R as a list
    of d rows; ``rotated[i] = <R[i], x>``."""
    return _pca_eig(embeddings, sample, seed, id_col, vector_col)[1]


def fit_opq_rotation(
    embeddings: DataFrame,
    m: int,
    sample: int = 8192,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> Rotation:
    """Parametric OPQ basis (Ge, He, Ke, Sun 2013 §5, "OPQ-P"): the
    PCA eigenbasis with its components PERMUTED by greedy eigenvalue
    allocation so each of the ``m`` PQ subspaces receives (nearly)
    equal variance PRODUCT — descending eigenvalues assigned one at a
    time to the non-full bucket with the smallest log-variance sum.

    Rationale: a raw variance-descending order (``fit_pca_rotation``)
    is optimal for a d'-PREFIX cut but adversarial for PQ — it piles
    all the variance into subspace 0, whose k* centroids then carry
    the entire quantization burden while the tail subspaces quantize
    noise. Balancing the per-subspace variance products minimizes the
    (independence-assumption) bound on total reconstruction error,
    which is exactly the quantity PQ's per-subspace KMeans minimizes.
    A row permutation of an orthonormal matrix is orthonormal, so all
    the rotation-invariance laws (L2/dot/norm preserved; exact rescore
    unaffected) hold unchanged. Same sampled-fit determinism contract
    as :func:`fit_pca_rotation`."""
    import math

    vals, R = _pca_eig(embeddings, sample, seed, id_col, vector_col)
    dim = len(R)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    cap = dim // m
    floor = 1e-12 * (max(vals) if vals and max(vals) > 0 else 1.0)
    buckets: list[list[int]] = [[] for _ in range(m)]
    logsum = [0.0] * m
    for i, lam in enumerate(vals):  # already variance-descending
        j = min(
            (b for b in range(m) if len(buckets[b]) < cap),
            key=lambda b: (logsum[b], b),
        )
        buckets[j].append(i)
        logsum[j] += math.log(max(float(lam), floor))
    return [R[i] for b in buckets for i in b]


def hadamard_rotation(dim: int) -> Rotation:
    """Normalized Sylvester-Hadamard basis: H[i][j] = ±1/√dim with
    ``dim`` a power of two. Every entry is exactly representable in
    binary (1/8 at dim=64), so rotated coordinates are exact ±x_j/√dim
    sums — the pinned data-independent orthogonal basis the oracle rows
    and degeneracy tests use (the arithmetic path without a fitted
    matrix; the structured random-rotation trick of Yu et al. 2016)."""
    if dim & (dim - 1):
        raise ValueError(f"hadamard_rotation needs a power-of-two dim, got {dim}")
    s = dim ** -0.5
    return [
        [s * (1.0 - 2.0 * (bin(i & j).count("1") & 1)) for j in range(dim)]
        for i in range(dim)
    ]


def rotate_vector(query_vector: Sequence[float], rotation: Rotation) -> list[float]:
    """Driver-side rotation of a query vector (same multiply-add order
    as the Column expression: per output coordinate, a left-to-right
    fold over the input — so engine and driver agree to the last ulp)."""
    out = []
    for row in rotation:
        acc = 0.0
        for r, x in zip(row, query_vector):
            acc += float(r) * float(x)
        out.append(acc)
    return out


def rotate_expr(
    vector_col: Column | str, rotation: Rotation, dims: int | None = None
) -> Column:
    """First ``dims`` rotated coordinates of a vector column as a pure
    Column: transform over the matrix-literal rows, each an inner dot
    (zip_with + sequential double fold — the shared ``vector.dot``).
    Only the evaluated rows of the matrix enter the plan: the coarse
    stage at d'=16 of 64 costs a 16×64 multiply-add, not 64×64."""
    rows = rotation if dims is None else rotation[: int(dims)]
    mat = vector_literal([[float(v) for v in r] for r in rows])
    vec = F.col(vector_col) if isinstance(vector_col, str) else vector_col
    return F.transform(mat, lambda row: dot(row, vec))


class PcaCodec(_Codec):
    """The learned-rotation prefix codec: distance between the d'-prefix
    of the ROTATED stored vector and the rotated query prefix, rotated
    on the driver (:func:`rotate_vector`, the fold order of
    :func:`rotate_expr`, so a batch scores bit-identically to the
    single-query loop) — ``quant.MrlCodec`` with the basis learned
    instead of assumed. The coarse relation holds the ``prefix`` column
    its ``columns`` writes — the first ``dims`` rotated coordinates,
    under the same name as ``quant.MrlCodec``'s, so a store serves one
    basis; the store is append-maintainable with the same frozen
    rotation (the map is data-independent once fitted, like the frozen
    IVF centroids). With ``inline_col`` the prefix is
    instead rotated from that float column in its OWN projection
    (``_rp``): ``distance`` references its vector argument several
    times (dot + norm), and CollapseProject would otherwise inline the
    d'×d rotation once per reference (pq._with_rotated rationale;
    measured ~2.5× on the benched sf0.1 row)."""

    fields = (StructField("_rq", ArrayType(DoubleType())),)

    def __init__(self, rotation: Rotation, dims: int, inline_col: str | None = None):
        self.rotation, self.dims, self.inline_col = rotation, int(dims), inline_col

    def columns(self, df: DataFrame, vector_col: str):
        return df, {"prefix": rotate_expr(vector_col, self.rotation, self.dims)}

    def values(self, qv: list[float], cells: list[tuple], metric: str) -> list:
        return [(rotate_vector(qv, self.rotation[: self.dims]),)] * len(cells)

    def view(self, df: DataFrame) -> DataFrame:
        if self.inline_col is None:
            return df
        return df.withColumn(
            "_rp", rotate_expr(self.inline_col, self.rotation, self.dims)
        )

    def score(self, metric: str, q: Column, rq: Column) -> Column:
        prefix = "prefix" if self.inline_col is None else "_rp"
        return distance(F.col(prefix), rq, metric)


_STORE_CACHE: dict = {}


def get_or_write_rotated_store(
    embeddings: DataFrame,
    rotation: Rotation,
    cache_key: str,
    dims: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> str:
    """Session-scoped rotated-store build cache (the
    ann.get_or_build_ivf_index / retrieval.get_or_build_bm25_index
    contract): the rotate-and-persist pass is paid once per
    (corpus, basis, dims) key under a deterministic /tmp path; probes
    (a ``VectorStore`` with :class:`PcaCodec`) reuse it. This is the
    SERVING split for the rotation lever — the build is the periodic
    batch job, the store probe is the steady state that reads d'/d of
    the float bytes."""
    return _get_or_write(
        _STORE_CACHE, "ydbvs_rotated", (cache_key, int(dims), id_col, vector_col),
        lambda path: write_store(
            embeddings, path, codecs=(PcaCodec(rotation, dims),),
            id_col=id_col, vector_col=vector_col,
        ),
    )


def clear_rotated_store_cache() -> None:
    _evict(_STORE_CACHE)


# ---------------------------------------------------------------------
# Basis drift maintenance (r6 verdict task #6): the rotation analogue of
# pq_drift_report / tree_drift_report, completing the drift matrix
# (cells, codebooks, postings, token distributions, + basis). A fitted
# basis rots when the data distribution turns: the d'-prefix stops
# carrying the signal it was fitted to carry, coarse recall quietly
# decays, and no cell-size or reconstruction metric sees it. The signal
# here is the PREFIX ENERGY FRACTION — E[‖first-d' rotated coords‖²] /
# E[‖x‖²], i.e. the share of the corpus's (uncentered) second moment
# the prefix captures. Energy, not centered variance, deliberately:
# the denominator is basis-invariant (‖Rx‖ = ‖x‖), both sides are
# single-pass SCALAR aggregates (no per-coordinate mean vector to
# shuffle), and a mean shift along tail directions raises tail energy
# just the same — exactly the failure the gate must catch.
# ---------------------------------------------------------------------


def captured_energy_fraction(
    batch: DataFrame,
    rotation: Rotation,
    dims: int = 16,
    vector_col: str = "embedding",
) -> float:
    """Share of the batch's second moment the d'-prefix of the ROTATED
    coordinates carries — ONE map-side aggregation (two scalar sums);
    1.0 at dims = d for any orthonormal basis (tested). Record this at
    fit time as the baseline :func:`rotation_drift_report` compares
    appended batches against."""
    pref = rotate_expr(vector_col, rotation, dims)
    sq = lambda col: F.aggregate(  # noqa: E731 — tiny local combinator
        col, F.lit(0.0), lambda acc, x: acc + x * x
    )
    row = batch.select(
        F.avg(sq(pref)).alias("p"),
        F.avg(sq(F.col(vector_col).cast("array<double>"))).alias("t"),
    ).first()
    if row["t"] is None or row["t"] == 0.0:
        return 1.0
    return float(row["p"]) / float(row["t"])


def rotation_drift_report(
    spark: SparkSession,
    batch: DataFrame,
    rotation: Rotation,
    baseline_captured: float,
    dims: int = 16,
    threshold: float = 0.8,
    vector_col: str = "embedding",
) -> DataFrame:
    """One-row basis-drift report for an appended/streamed batch: the
    batch's prefix energy fraction under the FROZEN basis vs the
    fit-time baseline. ``capture_ratio < threshold`` (default 0.8 —
    the prefix lost a fifth of its share) recommends a basis refit +
    rotated-store rewrite (:func:`refit_rotation`; republish via
    stores.publish_store like every index artifact) — same contract
    family as pq.pq_drift_report, with the inequality flipped because
    here LOW is bad. Cost: one map-side agg over the BATCH only."""
    cap = captured_energy_fraction(
        batch, rotation, dims=dims, vector_col=vector_col
    )
    n = batch.count()
    base = float(baseline_captured)
    ratio = cap / base if base > 0.0 else 1.0
    return spark.createDataFrame(
        [
            (
                int(n),
                int(dims),
                float(cap),
                base,
                float(ratio),
                float(threshold),
                bool(ratio < threshold),
            )
        ],
        "n_batch BIGINT, dims INT, captured_fraction DOUBLE, "
        "baseline_fraction DOUBLE, capture_ratio DOUBLE, threshold DOUBLE, "
        "refit_recommended BOOLEAN",
    )


def refit_rotation(
    spark: SparkSession,
    vectors: DataFrame,
    rotation: Rotation,
    baseline_captured: float,
    dims: int = 16,
    m: int | None = None,
    threshold: float = 0.8,
    force: bool = False,
    drift_batch: DataFrame | None = None,
    sample: int = 8192,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> tuple[Rotation, float] | None:
    """Threshold-triggered basis refit — the rotation twin of
    pq.refit_pq, including its ``drift_batch`` gate contract: the gate
    runs on ``drift_batch`` when given (so a badly-drifted small batch
    is not diluted below threshold by a large healthy corpus), else on
    ``vectors``. Healthy → returns None, nothing refit. Drifted (or
    ``force``) → fit a fresh basis on ``vectors`` (corpus ∪ appended
    batches) — :func:`fit_opq_rotation` when ``m`` is given, else
    :func:`fit_pca_rotation` — and return (new_rotation,
    new_baseline_captured). The caller rewrites the rotated-prefix
    store with the new basis and publishes atomically; a frozen-basis
    store and its rotation version MUST travel together (prefixes
    rotated under the wrong generation's basis are silent garbage —
    the pq codes-vs-books argument verbatim)."""
    if not force:
        gate = drift_batch if drift_batch is not None else vectors
        report = rotation_drift_report(
            spark, gate, rotation, baseline_captured, dims=dims,
            threshold=threshold, vector_col=vector_col,
        ).collect()[0]
        if not report.refit_recommended:
            return None
    if m is not None:
        new_rot = fit_opq_rotation(
            vectors, m=m, sample=sample, seed=seed, id_col=id_col,
            vector_col=vector_col,
        )
    else:
        new_rot = fit_pca_rotation(
            vectors, sample=sample, seed=seed, id_col=id_col,
            vector_col=vector_col,
        )
    new_base = captured_energy_fraction(
        vectors, new_rot, dims=dims, vector_col=vector_col
    )
    return new_rot, new_base


def pca_recall_report(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    dims_list: Sequence[int] = (8, 16, 32),
    k: int = 10,
    rescore: int = 4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    sample: int = 8192,
    seed: int = 42,
) -> DataFrame:
    """Plain prefix vs PCA-rotated prefix, coarse and rescored recall@k
    vs exact KNN, one row per prefix width — the report that shows what
    the learned basis buys on THIS corpus (the honest-reporting
    contract of mrl_recall / ivf_batch_recall: near-isotropic synthetic
    embeddings gain little, low-rank real embeddings gain a lot — both
    are the report's job to reveal)."""
    from ydb_vector_search_demo_spark.operators.quant import (
        MrlCodec,
        mrl_coarse_distance,
        mrl_prefix,
    )

    qv = [float(x) for x in query_vector]
    rotation = fit_pca_rotation(
        embeddings, sample=sample, seed=seed, id_col=id_col, vector_col=vector_col
    )
    rq_full = rotate_vector(qv, rotation)
    exact = [
        r[0]
        for r in knn_scores(
            embeddings, qv, k, metric, id_col=id_col, vector_col=vector_col
        ).collect()
    ]

    def coarse_ids(score: Column) -> list:
        return [
            r[0]
            for r in embeddings.select(F.col(id_col), score.alias("s"))
            .orderBy(F.col("s").asc_nulls_last(), F.col(id_col).asc())
            .limit(k)
            .collect()
        ]

    rows = []
    for dims in dims_list:
        plain_coarse = coarse_ids(mrl_coarse_distance(vector_col, qv, dims, metric))
        pca_coarse = coarse_ids(
            distance(
                rotate_expr(vector_col, rotation, dims),
                vector_literal(rq_full[: int(dims)]),
                metric,
            )
        )
        plain_rescored = [
            r[0]
            for r in VectorStore(
                embeddings, codec=MrlCodec(dims, mrl_prefix(vector_col, dims)),
                id_col=id_col, vector_col=vector_col,
            ).search(qv, k=k, rescore=rescore, metric=metric).collect()
        ]
        pca_rescored = [
            r[0]
            for r in VectorStore(
                embeddings, codec=PcaCodec(rotation, dims, inline_col=vector_col),
                id_col=id_col, vector_col=vector_col,
            ).search(qv, k=k, rescore=rescore, metric=metric).collect()
        ]
        rows.append(
            (
                int(dims),
                k,
                int(rescore),
                float(recall_at_k(exact, plain_coarse)),
                float(recall_at_k(exact, pca_coarse)),
                float(recall_at_k(exact, plain_rescored)),
                float(recall_at_k(exact, pca_rescored)),
            )
        )
    return spark.createDataFrame(
        rows,
        "dims INT, k INT, rescore INT, plain_coarse DOUBLE, pca_coarse DOUBLE, "
        "plain_rescored DOUBLE, pca_rescored DOUBLE",
    )
