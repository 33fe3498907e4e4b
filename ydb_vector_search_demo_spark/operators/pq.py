"""Product quantization (PQ) with asymmetric-distance (ADC) scoring —
the compression level between int8 scalar quantization and 1-bit sign
packing (operators.quant), and the codes behind the industry-standard
IVF-PQ layout (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI 2011).

Reference analogue: the YDB Knn API behind the reference's store
(/root/reference/app.py:29-42) exposes quantized vector types to cut
scan bytes; PQ is the classical next step on the same axis — the
vector is split into ``m`` subspaces, each subvector replaced by the
id of its nearest codebook centroid, so storage is ``m`` bytes plus
one exact float norm (64-dim float32 = 256 B → m=8 codes = 12 B,
~21×).

Scale shape (100 TB posture):

* **Training** is a batch job: ``m`` independent MLlib KMeans fits
  over (a sample of) the subvector columns, thread-pooled like the
  k-means tree's child fits; codebooks are driver-side lists
  (m × k* × d/m floats) that travel as plan literals.
* **Encoding** is one map-only pass of pure Column expressions
  (slice → zip_with → aggregate → array_position): no shuffle, no
  Python, no MLlib model objects at scan time.
* **Query (ADC)**: the query is NOT encoded — the driver computes a
  lookup table LUT[j][c] (distance/dot of the query's j-th subvector
  to every centroid of codebook j; m·k* doubles), ships it as a plan
  literal, and each row's coarse score is ``m`` array lookups + a sum
  (``zip_with(codes, LUT, element_at)``), entirely JVM-side. Coarse
  top-``rescore·k`` then broadcast-joins the float relation for an
  exact rescore, same contract as operators.quant.
* Cosine uses the PQ-reconstructed *dot product* plus the exactly
  stored per-vector norm (4 bytes), so only the dot is approximate.

Codes are stored 0-based in ``ARRAY<TINYINT>``; ``k_star`` is capped
at 128 so codes fit a signed byte without an offset dance (the
classical 256-centroid variant would store SMALLINT at 2 B/code —
same machinery, half the compression, not worth the asymmetry here).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField

from ydb_vector_search_demo_spark.functions.vector import (
    l2_norm,
    to_double_array,
)
from ydb_vector_search_demo_spark.operators.ann import (
    VectorStore,
    _Codec,
    _IvfRouter,
    _argmin,
    _codebook,
    _sq_dists,
    recall_at_k,
    store_rows,
    write_store,
)
from ydb_vector_search_demo_spark.operators.knn import knn_scores, vector_literal

Codebooks = list[list[list[float]]]  # m × k* × (dim/m)

# OPQ (r6 verdict task #2): every train/encode/LUT seam below accepts an
# optional orthonormal ``rotation`` (operators.rotation — fit with
# fit_opq_rotation's eigenvalue allocation, or any Rotation). Codes are
# then learned and scored in the ROTATED space (Ge et al. 2013,
# "Optimized Product Quantization", the citation rotation.py carries):
# rotation preserves L2/dot/norm exactly, so ADC in the rotated basis
# approximates the SAME distances while the subspace split cuts across
# decorrelated, variance-balanced coordinates — strictly better-behaved
# per-subspace KMeans. The exact rescore always runs on the ORIGINAL
# float column with the ORIGINAL query, so rotation changes recall of
# the coarse stage only, never correctness of the final top-k.


def _maybe_rotated(vector_col: Column | str, rotation) -> Column:
    """Full-width double-array view of a vector column, rotated into
    the OPQ basis when one is given (plan-literal matrix, pure Column
    arithmetic — rotation.rotate_expr)."""
    if rotation is None:
        return to_double_array(vector_col)
    from ydb_vector_search_demo_spark.operators.rotation import rotate_expr

    return rotate_expr(vector_col, rotation)


def _with_rotated(
    df: DataFrame, vector_col: str, rotation, tmp: str = "_opq_rotated"
) -> tuple[DataFrame, str]:
    """(df', rotated-column-name): the rotated full-width vector
    materialized ONCE in its own projection. Subspace consumers
    (encode_expr, reconstruction_error_expr, the training slices)
    reference their input m times, and a Column-level rotation would be
    re-evaluated per slice — CollapseProject deliberately keeps the
    duplicated expensive expression in a separate Project node, which
    measured 14× on the sf0.1 encode path. No-op without a rotation."""
    if rotation is None:
        return df, vector_col
    from ydb_vector_search_demo_spark.operators.rotation import rotate_expr

    return df.withColumn(tmp, rotate_expr(vector_col, rotation)), tmp


def _maybe_rotate_q(query_vector: Sequence[float], rotation) -> list[float]:
    """Driver-side twin of :func:`_maybe_rotated` for query vectors —
    same multiply-add order as the Column expression (rotation.
    rotate_vector), so engine and driver agree to the last ulp."""
    qv = [float(x) for x in query_vector]
    if rotation is None:
        return qv
    from ydb_vector_search_demo_spark.operators.rotation import rotate_vector

    return rotate_vector(qv, rotation)


def subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """(start, length) per subspace; dim must divide evenly by m so the
    stored layout is self-describing (no ragged tail subspace)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    return [(j * d, d) for j in range(m)]


def train_pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    k_star: int = 64,
    seed: int = 42,
    vector_col: str = "embedding",
    max_iter: int = 8,
    fit_sample_fraction: float | None = None,
    fit_parallelism: int = 8,
    rotation=None,
) -> Codebooks:
    """``m`` seeded KMeans fits over the subvector slices (thread-pooled
    — independent small jobs, deterministic per-subspace seeds). Returns
    driver-side codebooks; nothing corpus-sized is collected.
    ``rotation`` switches on OPQ: the fits run over ROTATED subvectors
    (the same basis must then be passed to encode/search)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if k_star > 128:
        raise ValueError(f"k_star {k_star} > 128 does not fit TINYINT codes")
    bounds = subspace_bounds(dim, m)
    vectors, vector_col = _with_rotated(vectors, vector_col, rotation)
    v = to_double_array(vector_col)
    feats = vectors.select(
        *[
            array_to_vector(F.slice(v, start + 1, length)).alias(f"_sub{j}")
            for j, (start, length) in enumerate(bounds)
        ]
    )
    if fit_sample_fraction is not None:
        feats = feats.sample(fraction=fit_sample_fraction, seed=seed)
    feats = feats.persist()
    try:
        n = feats.count()  # materialize once; every fit reuses the cache

        def _single(j: int) -> list[list[float]]:
            # degenerate subspace (<2 distinct subvectors): a one-entry
            # codebook at the first subvector — every code is 0 and the
            # ADC contribution is exact for that constant subspace
            if n == 0:
                return [[0.0] * bounds[j][1]]
            row = feats.select(f"_sub{j}").first()[0]
            return [list(map(float, row))]

        def _fit(j: int) -> list[list[float]]:
            if n < 2:
                return _single(j)
            try:
                model = KMeans(
                    k=min(k_star, n), seed=seed + j,
                    featuresCol=f"_sub{j}", maxIter=max_iter,
                ).fit(feats)
            except Exception:
                # MLlib KMeans can fail outright (KMeansAggregator
                # AIOOBE) when a subspace has fewer distinct points
                # than k — near-duplicate-heavy corpora hit this (the
                # same failure the tree child fit catches,
                # ann.build_kmeans_tree_index._fit_child). Clamp k to
                # the distinct-subvector count and refit; degrade to a
                # single-centroid codebook below 2 distinct points.
                nd = feats.select(f"_sub{j}").distinct().count()
                kk = min(k_star, n, nd)
                if kk < 2:
                    return _single(j)
                try:
                    model = KMeans(
                        k=kk, seed=seed + j,
                        featuresCol=f"_sub{j}", maxIter=max_iter,
                    ).fit(feats)
                except Exception:
                    return _single(j)
            return [list(map(float, c)) for c in model.clusterCenters()]

        if fit_parallelism > 1 and m > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(fit_parallelism, m)) as pool:
                return list(pool.map(_fit, range(m)))
        return [_fit(j) for j in range(m)]
    finally:
        feats.unpersist()


def encode_expr(
    vector_col: Column | str, codebooks: Codebooks, rotation=None
) -> Column:
    """0-based nearest-centroid code per subspace as ``ARRAY<TINYINT>``
    — a pure map-side expression; the codebooks travel as literals.
    With ``rotation`` the vector is rotated into the OPQ basis first
    (matching the basis the codebooks were trained under)."""
    return F.array(*[
        _argmin(dists).cast("tinyint")
        for dists in _subspace_dists(vector_col, codebooks, rotation)
    ])


def _subspace_dists(
    vector_col: Column | str, codebooks: Codebooks, rotation=None
) -> list[Column]:
    """Per subspace, the squared L2 distances of the subvector to every
    centroid of its codebook — the one nearest-cell rule
    (``ann._sq_dists``) that :func:`encode_expr` argmins over and
    :func:`reconstruction_error_expr` takes the minimum of."""
    v = _maybe_rotated(vector_col, rotation)
    out, start = [], 0
    for book in codebooks:
        length = len(book[0])
        out.append(_sq_dists(F.slice(v, start + 1, length), _codebook(book)))
        start += length
    return out


def adc_lut(
    query_vector: Sequence[float], codebooks: Codebooks, metric: str = "cosine"
) -> list[list[float]]:
    """Driver-side lookup table LUT[j][c]: ``euclidean``/``manhattan``
    store per-subspace distances (sum over j = distance^2 / L1 of the
    reconstruction); ``cosine``/``inner_product`` store per-subspace
    dot products (sum over j = reconstructed <q, x̂>)."""
    qv = [float(x) for x in query_vector]
    lut = []
    start = 0
    for book in codebooks:
        length = len(book[0])
        q_sub = qv[start : start + length]
        row = []
        for c in book:
            if metric == "euclidean":
                row.append(sum((a - b) ** 2 for a, b in zip(q_sub, c)))
            elif metric == "manhattan":
                row.append(sum(abs(a - b) for a, b in zip(q_sub, c)))
            else:  # cosine / inner_product: reconstructed dot
                row.append(sum(a * b for a, b in zip(q_sub, c)))
        lut.append(row)
        start += length
    return lut


def adc_score_col(
    codes_col: Column | str,
    lut_col: Column,
    metric: str,
    qnorm_col: Column,
    norm_col: Column | str = "vnorm",
) -> Column:
    """Column-LUT twin of :func:`adc_score` for batched probes: the
    lookup table and query norm arrive as (broadcast) columns instead
    of plan literals — same m lookups + fold, JVM-side."""
    codes = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    nrm = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    picked = F.zip_with(
        codes, lut_col, lambda c, row: F.element_at(row, c.cast("int") + 1)
    )
    total = F.aggregate(picked, F.lit(0.0), lambda acc, x: acc + x)
    if metric in ("euclidean", "manhattan"):
        return total
    if metric == "inner_product":
        return -total
    if metric == "cosine":
        return F.lit(1.0) - F.try_divide(total, nrm * qnorm_col)
    raise ValueError(f"unknown metric {metric!r}")


def adc_score(
    codes_col: Column | str,
    lut: list[list[float]],
    metric: str,
    query_vector: Sequence[float],
    norm_col: Column | str = "vnorm",
) -> Column:
    """Coarse ADC score (lower = more similar, every metric): m array
    lookups + a fold, all JVM-side. Cosine divides the reconstructed
    dot by the EXACT stored norm (NULL-lawful for zero norms, matching
    functions.vector.cosine_similarity)."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vector))
    return adc_score_col(
        codes_col, vector_literal([[float(x) for x in row] for row in lut]),
        metric, F.lit(qn), norm_col,
    )


def _query_lut(
    qv: list[float], codebooks: Codebooks, metric: str, rotation
) -> tuple[list[list[float]], float]:
    """(LUT, norm) of the query — OPQ-rotated first when ``rotation`` is
    given: the per-query codec columns of a batched ADC probe."""
    cq = _maybe_rotate_q(qv, rotation)
    return adc_lut(cq, codebooks, metric), math.sqrt(sum(x * x for x in cq))


class PqCodec(_Codec):
    """The PQ codec: the m-byte ``pq_codes`` of each vector (or of its
    IVF residual) and the exact float norm ``vnorm`` of the ORIGINAL
    vector (a rotation preserves it anyway), scored by ADC
    (:func:`adc_score_col`). The query's lookup table and norm are its
    per-query driver values:

    * companion codes (``centroids=None``; any router, or none): codes
      of the raw vector and one global LUT of the
      (OPQ-``rotation``-rotated) query, shared by every cell, so a
      streamed-in store is searchable with zero refit — the columns an
      incremental ingest keeps fresh with frozen codebooks;
    * residual codes (``centroids`` = the IVF codebook; IVF routing
      only): codes of x − centroid[centroid_id] and one LUT per probed
      cell (:func:`_ivfpq_cell_lut`); a single-query probe's rows pick
      theirs by probe index, so the literal scales with nprobe, never
      k_clusters. The better bytes/recall point for a batch-built store.

    With a ``rotation`` the encoded vector is rotated into the OPQ
    basis once, in its own projection (:func:`_with_rotated`). Probe
    ranking and the exact rescore stay in the original basis;
    ``rotation`` only rotates the codes and the LUTs."""

    fields = (
        StructField("_lut", ArrayType(ArrayType(DoubleType()))),
        StructField("_qn", DoubleType()),
    )

    def __init__(
        self,
        codebooks: Codebooks,
        centroids: list[list[float]] | None = None,
        rotation=None,
    ):
        self.books, self.centroids, self.rotation = codebooks, centroids, rotation

    def columns(self, df: DataFrame, vector_col: str):
        src = vector_col
        if self.centroids is not None:
            src = "_res"
            df = df.withColumn(src, _residual_expr(vector_col, self.centroids))
        df, src = _with_rotated(df, src, self.rotation)
        return df, {
            "pq_codes": encode_expr(src, self.books),
            "vnorm": l2_norm(vector_col).cast("float"),
        }

    def values(self, qv: list[float], cells: list[tuple], metric: str) -> list:
        if self.centroids is None:
            return [_query_lut(qv, self.books, metric, self.rotation)] * len(cells)
        qn = math.sqrt(sum(x * x for x in qv))
        return [
            (
                _ivfpq_cell_lut(
                    qv, self.centroids[c], self.books, metric, self.rotation
                ),
                qn,
            )
            for (c,) in cells
        ]

    def bind(self, qv: list[float], cells: list[tuple], metric: str) -> Column:
        if self.centroids is None:
            return super().bind(qv, cells, metric)
        luts = [lut for lut, _ in self.values(qv, cells, metric)]
        probe_idx = F.array_position(
            vector_literal([c for (c,) in cells], integers=True), F.col("centroid_id")
        )  # 1-based index into the LUT stack
        return self.score(
            metric, None, F.element_at(vector_literal(luts), probe_idx.cast("int")),
            F.lit(math.sqrt(sum(x * x for x in qv))),
        )

    def score(self, metric: str, q: Column, lut: Column, qnorm: Column) -> Column:
        return adc_score_col("pq_codes", lut, metric, qnorm, "vnorm")


# --------------------------------------------------------------------------
# IVF-PQ: residual-encoded codes inside the centroid-partitioned layout
# --------------------------------------------------------------------------


def _residual_expr(
    vector_col: Column | str, centroids: list[list[float]], cid_col: str = "centroid_id"
) -> Column:
    """x − centroid[centroid_id] as a map-side expression (the centroid
    matrix is a plan literal indexed by the assignment column)."""
    v = to_double_array(vector_col)
    c = F.element_at(_codebook(centroids), F.col(cid_col) + 1)
    return F.zip_with(v, c, lambda x, y: x - y)


def train_ivfpq_codebooks(
    index,
    dim: int,
    m: int = 8,
    k_star: int = 64,
    **train_kwargs,
) -> Codebooks:
    """Classical IVF-PQ: ONE shared set of PQ codebooks trained on the
    RESIDUALS x − centroid (Jégou et al. 2011 §IV) — residuals are
    centered and much lower-variance than raw vectors, so the same m
    bytes quantize them far more precisely. ``index`` is an
    ``ann.IvfIndex`` (its ``assigned`` relation already carries
    centroid_id). ``rotation`` (via ``train_kwargs``) composes OPQ with
    the residual path: R(x − c) = Rx − Rc is the rotated residual, so
    the shared basis decorrelates residuals across the subspace split
    exactly as in the flat-PQ case."""
    residuals = index.assigned.select(
        _residual_expr(index.vector_col, index.centroids).alias("_res")
    )
    return train_pq_codebooks(residuals, dim, m=m, k_star=k_star,
                              vector_col="_res", **train_kwargs)


def _ivfpq_cell_lut(
    query_vector: Sequence[float],
    centroid: Sequence[float],
    codebooks: Codebooks,
    metric: str,
    rotation=None,
) -> list[list[float]]:
    """Per-probed-cell LUT. euclidean/manhattan: distance of (q − c)'s
    subvectors to the residual centroids — sums to the exact
    reconstruction distance. cosine/inner_product: dot of q's
    subvectors with the residual centroids, plus ⟨q, c⟩/m folded into
    every entry so the fold total is ⟨q, x̂⟩ = ⟨q,c⟩ + ⟨q,reŝ⟩."""
    qv = [float(x) for x in query_vector]
    if metric in ("euclidean", "manhattan"):
        shifted = [a - b for a, b in zip(qv, centroid)]
        # OPQ residual stores: the codebooks live in the ROTATED
        # residual space, so (q − c) rotates before the LUT; the
        # ⟨q,c⟩ correction below is rotation-invariant and stays in
        # the original basis.
        return adc_lut(_maybe_rotate_q(shifted, rotation), codebooks, metric)
    lut = adc_lut(_maybe_rotate_q(qv, rotation), codebooks, metric)  # dot LUT
    qc = sum(a * b for a, b in zip(qv, centroid)) / len(codebooks)
    return [[x + qc for x in row] for row in lut]


def ivfpq_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    dim: int,
    tmp_path: str,
    k_clusters: int = 16,
    m: int = 8,
    k_star: int = 64,
    k: int = 10,
    nprobe: int = 4,
    rescore: int = 8,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cache_key: object | None = None,
    **train_kwargs,
) -> DataFrame:
    """End-to-end IVF-PQ quality report: build (or reuse) the IVF
    index, train residual codebooks, write the IVF-PQ store under
    ``tmp_path``, probe it, and report recall@k vs exact — alongside
    the bytes-per-vector of the probed store."""
    from ydb_vector_search_demo_spark.operators.ann import get_or_build_ivf_index

    qv = [float(x) for x in query_vector]
    exact = [
        r[0]
        for r in knn_scores(
            embeddings, qv, k, metric, id_col=id_col, vector_col=vector_col
        ).collect()
    ]
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key
    )
    books = train_ivfpq_codebooks(index, dim, m=m, k_star=k_star, **train_kwargs)
    write_store(
        index.assigned, tmp_path, index.store.router,
        (PqCodec(books, index.centroids),), id_col=index.id_col,
        vector_col=index.vector_col,
    )
    approx = [
        r[0]
        for r in VectorStore(
            spark.read.parquet(tmp_path), _IvfRouter(index.centroids),
            PqCodec(books, index.centroids), embeddings, id_col, vector_col,
        ).search(qv, k=k, nprobe=nprobe, rescore=rescore, metric=metric).collect()
    ]
    # flat IVF (exact rescan of the same probed cells) at the same
    # nprobe: the ceiling set by the coarse probe alone. recall ==
    # recall_ivf_flat means PQ precision costs nothing at this c.
    flat = [
        r[0]
        for r in index.search(qv, k=k, nprobe=nprobe, metric=metric).collect()
    ]
    return spark.createDataFrame(
        [
            (
                k,
                k_clusters,
                int(nprobe),
                m,
                k_star,
                int(rescore),
                float(m + 4),  # code bytes + exact norm
                float(recall_at_k(exact, approx)),
                float(recall_at_k(exact, flat)),
            )
        ],
        "k INT, k_clusters INT, nprobe INT, m INT, k_star INT, rescore INT, "
        "bytes_per_vector DOUBLE, recall DOUBLE, recall_ivf_flat DOUBLE",
    )


def pq_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    dim: int,
    m: int = 8,
    k_star: int = 64,
    k: int = 10,
    rescore: int = 4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    **train_kwargs,
) -> DataFrame:
    """One-row report: recall@k of (a) the raw ADC ordering and (b)
    ADC + exact rescore, vs exact float KNN — the PQ counterpart of
    quant.quantized_recall, with the compression ratio alongside."""
    qv = [float(x) for x in query_vector]
    exact = [
        r[0]
        for r in knn_scores(
            embeddings, qv, k, metric, id_col=id_col, vector_col=vector_col
        ).collect()
    ]
    books = train_pq_codebooks(
        embeddings, dim, m=m, k_star=k_star, vector_col=vector_col, **train_kwargs
    )
    encoded = store_rows(
        embeddings, codecs=(PqCodec(books),), id_col=id_col,
        vector_col=vector_col,
    )
    lut = adc_lut(qv, books, metric)
    coarse_only = [
        r[0]
        for r in encoded.select(
            F.col(id_col), adc_score("pq_codes", lut, metric, qv).alias("s")
        )
        .orderBy(F.col("s").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
        .collect()
    ]
    rescored = [
        r[0]
        for r in VectorStore(
            encoded, codec=PqCodec(books), embeddings=embeddings, id_col=id_col,
            vector_col=vector_col,
        ).search(qv, k=k, rescore=rescore, metric=metric).collect()
    ]
    compression = (dim * 4.0) / (m + 4.0)  # float32 bytes vs codes+norm
    return spark.createDataFrame(
        [
            (
                k,
                m,
                k_star,
                int(rescore),
                round(compression, 2),
                float(recall_at_k(exact, coarse_only)),
                float(recall_at_k(exact, rescored)),
            )
        ],
        "k INT, m INT, k_star INT, rescore INT, compression_x DOUBLE, "
        "recall_adc_coarse DOUBLE, recall_adc_rescored DOUBLE",
    )


def opq_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    dim: int,
    m: int = 8,
    k_star: int = 64,
    k: int = 10,
    rescore: int = 4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    sample: int = 8192,
    seed: int = 42,
    **train_kwargs,
) -> DataFrame:
    """Plain PQ vs OPQ at identical (m, k*, rescore) — one row per
    variant: the quantization MSE each basis achieves (the objective
    OPQ minimizes, Ge et al. 2013 eq. 1) plus coarse-ADC and rescored
    recall@k vs exact float KNN. The OPQ variant trains/encodes/probes
    through the SAME functions with ``rotation=`` set to the
    eigenvalue-allocated basis (rotation.fit_opq_rotation) — the report
    exercises the full composed path, not a parallel implementation.
    Honest-reporting contract as mrl/pca_recall: near-isotropic
    synthetic corpora show small MSE gains; correlated real embeddings
    are where the rotation pays."""
    from ydb_vector_search_demo_spark.operators.rotation import (
        fit_opq_rotation,
    )

    qv = [float(x) for x in query_vector]
    exact = [
        r[0]
        for r in knn_scores(
            embeddings, qv, k, metric, id_col=id_col, vector_col=vector_col
        ).collect()
    ]
    opq = fit_opq_rotation(
        embeddings, m=m, sample=sample, seed=seed, id_col=id_col,
        vector_col=vector_col,
    )
    rows = []
    for variant, rot in [("pq", None), ("opq", opq)]:
        books = train_pq_codebooks(
            embeddings, dim, m=m, k_star=k_star, seed=seed,
            vector_col=vector_col, rotation=rot, **train_kwargs,
        )
        encoded = store_rows(
            embeddings, codecs=(PqCodec(books, rotation=rot),), id_col=id_col,
            vector_col=vector_col,
        )
        cq = _maybe_rotate_q(qv, rot)
        lut = adc_lut(cq, books, metric)
        coarse = [
            r[0]
            for r in encoded.select(
                F.col(id_col), adc_score("pq_codes", lut, metric, cq).alias("s")
            )
            .orderBy(F.col("s").asc_nulls_last(), F.col(id_col).asc())
            .limit(k)
            .collect()
        ]
        rescored = [
            r[0]
            for r in VectorStore(
                encoded, codec=PqCodec(books, rotation=rot),
                embeddings=embeddings, id_col=id_col, vector_col=vector_col,
            ).search(qv, k=k, rescore=rescore, metric=metric).collect()
        ]
        mse = pq_quantization_mse(
            embeddings, books, vector_col=vector_col, rotation=rot
        )
        rows.append(
            (
                variant,
                k,
                m,
                k_star,
                int(rescore),
                round(float(mse), 6),
                float(recall_at_k(exact, coarse)),
                float(recall_at_k(exact, rescored)),
            )
        )
    return spark.createDataFrame(
        rows,
        "variant STRING, k INT, m INT, k_star INT, rescore INT, "
        "quantization_mse DOUBLE, recall_adc_coarse DOUBLE, "
        "recall_adc_rescored DOUBLE",
    )


# --------------------------------------------------------------------------
# Codebook drift maintenance (r5): the quantizer counterpart of the
# cell-population drift loop (ann.tree_drift_report / ivf_drift_report).
# Cell sizes can stay balanced while the DISTRIBUTION moves away from
# the frozen codebooks — reconstruction error is the signal for that
# failure mode, and it is computable map-side with zero extra state.
# --------------------------------------------------------------------------


def reconstruction_error_expr(
    vector_col: Column | str, codebooks: Codebooks, rotation=None
) -> Column:
    """Squared reconstruction error ``||x − decode(encode(x))||²`` per
    row as a pure Column expression: per subspace, the distance to the
    NEAREST centroid — ``array_min`` over the same per-centroid
    distances :func:`encode_expr` argmins over — IS that subspace's
    reconstruction error, so encode→decode never materializes. The
    codebooks travel as plan literals; no Python anywhere. For OPQ
    stores pass the same ``rotation`` the codes were learned under —
    the error is measured in the rotated space the codes live in
    (numerically equal to the original-space error of the rotated-back
    reconstruction, since rotation preserves L2)."""
    terms = [
        F.array_min(dists)
        for dists in _subspace_dists(vector_col, codebooks, rotation)
    ]
    return sum(terms[1:], terms[0])


def pq_quantization_mse(
    vectors: DataFrame,
    codebooks: Codebooks,
    vector_col: str = "embedding",
    rotation=None,
) -> float:
    """Mean squared reconstruction error of a relation under frozen
    codebooks — ONE map-side aggregation (no shuffle beyond the final
    1-row combine). Record this at build/refit time as the baseline the
    drift report compares appended batches against; the corpus is never
    rescanned afterwards."""
    rotated, rot_col = _with_rotated(vectors, vector_col, rotation)
    row = rotated.select(
        F.avg(reconstruction_error_expr(rot_col, codebooks)).alias("mse")
    ).first()
    return float(row["mse"]) if row["mse"] is not None else 0.0


def pq_drift_report(
    spark: SparkSession,
    batch: DataFrame,
    codebooks: Codebooks,
    baseline_mse: float,
    threshold: float = 2.0,
    vector_col: str = "embedding",
    rotation=None,
) -> DataFrame:
    """One-row codebook-drift report for an appended/streamed batch:
    the batch's reconstruction MSE under the FROZEN codebooks vs the
    build-time baseline. ``mse_ratio > threshold`` (default 2.0 —
    reconstruction error doubled) recommends a refit + re-encode cycle
    (train_pq_codebooks on corpus ∪ batch, republish via the store
    manifest protocol, stores.publish_store) — the quantizer analogue
    of the skew_ratio-4.0 contract shared by ann.tree_drift_report /
    ann.ivf_drift_report, closing the maintenance loop for the one
    index family (PQ/IVF-PQ stores) whose accuracy can rot while cell
    populations stay perfectly balanced. Cost: one map-side agg over
    the BATCH only."""
    mse = pq_quantization_mse(
        batch, codebooks, vector_col=vector_col, rotation=rotation
    )
    n = batch.count()
    base = float(baseline_mse)
    if base > 0.0:
        ratio = mse / base
    else:
        ratio = 0.0 if mse == 0.0 else float("inf")
    return spark.createDataFrame(
        [
            (
                int(n),
                float(mse),
                base,
                float(ratio),
                float(threshold),
                bool(ratio > threshold),
            )
        ],
        "n_batch BIGINT, batch_mse DOUBLE, baseline_mse DOUBLE, "
        "mse_ratio DOUBLE, threshold DOUBLE, refit_recommended BOOLEAN",
    )


# --------------------------------------------------------------------------
# Codebook persistence + the refit cycle (the other half of pq_drift_report:
# detect -> REFIT -> re-encode -> atomic publish, mirroring the
# rebalance_tree / rebalance_ivf maintenance contract on the quantizer).
# --------------------------------------------------------------------------


def save_codebooks(
    spark: SparkSession,
    store_path: str,
    codebooks: Codebooks,
    baseline_mse: float,
) -> None:
    """Persist the codebooks + their build-time baseline MSE as
    ``_pq_codebooks.json`` INSIDE the codes directory — underscore
    files are invisible to the parquet reader (the _SUCCESS
    convention), so a PQ store version is one self-contained directory
    the manifest protocol can point at. Written via the Hadoop FS API
    (works on any store scheme, the compact_partitioned_store lesson).
    JSON floats round-trip exactly (repr-grade precision both ways)."""
    import json as _json

    from ydb_vector_search_demo_spark import stores

    jvm, _, fs = stores._fs(spark, store_path)
    target = jvm.org.apache.hadoop.fs.Path(store_path, "_pq_codebooks.json")
    payload = _json.dumps(
        {"codebooks": codebooks, "baseline_mse": float(baseline_mse)}
    ).encode("utf-8")
    if fs.exists(target):
        fs.delete(target, False)
    stores._write_file(jvm, fs, target, payload)


def load_codebooks(
    spark: SparkSession, store_path: str
) -> tuple[Codebooks, float]:
    """Read back (codebooks, baseline_mse) written by
    :func:`save_codebooks` for a store version directory."""
    import json as _json

    from ydb_vector_search_demo_spark import stores

    jvm, _, fs = stores._fs(spark, store_path)
    target = jvm.org.apache.hadoop.fs.Path(store_path, "_pq_codebooks.json")
    doc = _json.loads(stores._read_file(jvm, fs, target))
    books = [[[float(v) for v in c] for c in book] for book in doc["codebooks"]]
    return books, float(doc["baseline_mse"])


def refit_pq(
    spark: SparkSession,
    vectors: DataFrame,
    codebooks: Codebooks,
    baseline_mse: float,
    out_path: str,
    dim: int,
    m: int = 8,
    k_star: int = 64,
    threshold: float = 2.0,
    force: bool = False,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    keep_cols: tuple = (),
    drift_batch: DataFrame | None = None,
    rotation=None,
    **train_kwargs,
) -> tuple[Codebooks, float] | None:
    """Threshold-triggered codebook refit — the quantizer twin of
    :func:`ann.rebalance_ivf`: when :func:`pq_drift_report` crosses
    ``threshold`` (or ``force``), train fresh codebooks on ``vectors``
    (the store's CURRENT float contents, corpus ∪ appended batches),
    re-encode EVERY vector, write the new codes store to ``out_path``
    with the refreshed codebooks + baseline embedded
    (:func:`save_codebooks`), and return them. Returns None — and
    writes nothing — while reconstruction error is still healthy.

    The gate runs on ``drift_batch`` when given, else on ``vectors``.
    Pass the APPENDED batch as ``drift_batch`` to match the detection
    path's recommendation: a badly-drifted small batch that crosses the
    batch-level threshold is otherwise diluted below it in the merged
    corpus (a 1%-of-corpus batch at 10× baseline MSE moves the merged
    ratio by ~0.09 — detected, then refused). The merged-corpus gate
    (default) is the right call only when the threshold is meant as
    "overall store health", and the two differ exactly when the corpus
    is large and healthy — the common case, so callers coming from
    :func:`pq_drift_report` on a batch should pass that batch here.

    Never writes in place: the caller publishes ``out_path`` atomically
    with ``stores.publish_store``, so probers resolve the
    old-books/old-codes or new-books/new-codes version, never a
    mixture (codes decoded with the wrong generation's books are
    silent garbage — the reason the books live inside the version
    directory instead of beside the manifest).

    Scale shape: the drift check is one map-side agg over the gate
    relation; the refit is m sampled subspace KMeans fits
    (thread-pooled, ``fit_sample_fraction`` passes through); the
    re-encode is one map-only pass writing ``out_path``."""
    if not force:
        gate = drift_batch if drift_batch is not None else vectors
        report = pq_drift_report(
            spark, gate, codebooks, baseline_mse, threshold=threshold,
            vector_col=vector_col, rotation=rotation,
        ).collect()[0]
        if not report.refit_recommended:
            return None
    new_books = train_pq_codebooks(
        vectors, dim=dim, m=m, k_star=k_star, seed=seed,
        vector_col=vector_col, rotation=rotation, **train_kwargs,
    )
    write_store(
        vectors, out_path, codecs=(PqCodec(new_books, rotation=rotation),),
        id_col=id_col, vector_col=vector_col, keep_cols=keep_cols,
    )
    new_baseline = pq_quantization_mse(
        vectors, new_books, vector_col=vector_col, rotation=rotation
    )
    save_codebooks(spark, out_path, new_books, new_baseline)
    return new_books, new_baseline


def read_current_pq_store(
    spark: SparkSession, root: str
) -> tuple[DataFrame, Codebooks, float]:
    """Resolve the manifest-current PQ store version: (codes relation,
    its codebooks, its baseline MSE) — always a consistent
    (codes, books) generation pair by construction."""
    from ydb_vector_search_demo_spark import stores

    path = stores.current_store_path(spark, root)
    if path is None:
        raise ValueError(f"no published PQ store under {root!r}")
    books, baseline = load_codebooks(spark, path)
    return spark.read.parquet(path), books, baseline


def pq_maintenance_cycle(
    spark: SparkSession,
    root: str,
    vectors: DataFrame,
    batch: DataFrame,
    version_path: str,
    dim: int,
    m: int = 8,
    k_star: int = 64,
    threshold: float = 2.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    keep_cols: tuple = (),
    **train_kwargs,
) -> DataFrame:
    """One turn of the PQ store maintenance loop, end to end — the
    codebook analogue of the cell-rebalance lifecycle
    (ann.rebalance_ivf / tests/test_store_maintenance.py):

    1. resolve the manifest-current generation (codes + books +
       baseline, :func:`read_current_pq_store`);
    2. :func:`pq_drift_report` on the APPENDED ``batch`` under the
       frozen books — the batch is the gate, not the merged corpus, so
       a badly-drifted feed can't be diluted below threshold by a
       large healthy corpus (the detect→refuse failure mode);
    3. healthy batch → frozen-books append: encode ONLY the batch
       (one map-only pass over the batch; the corpus is never
       rescanned) and write current-codes ∪ new-codes as the next
       version, books unchanged;
       drifted batch → :func:`refit_pq` on corpus ∪ batch (fresh
       books, EVERY vector re-encoded, new baseline);
    4. atomic publish of the new version via ``stores.publish_store``
       — probers resolve a consistent (codes, books) generation,
       never a mixture, and time travel / rollback apply as on any
       manifest store.

    ``vectors`` is the store's current float contents (the source of
    truth the codes derive from); ``batch`` the newly-arrived floats.
    Returns a one-row audit DataFrame: the gate's verdict, the action
    taken, the published seq, the new store's row count, and the same
    batch's drift ratio under the published generation (post ratio ≈ 1
    after a refit — the loop observably closed)."""
    from ydb_vector_search_demo_spark import stores

    codes, books, baseline = read_current_pq_store(spark, root)
    report = pq_drift_report(
        spark, batch, books, baseline, threshold=threshold,
        vector_col=vector_col,
    ).collect()[0]
    if report.refit_recommended:
        merged = vectors.unionByName(batch.select(*vectors.columns))
        new_books, new_baseline = refit_pq(
            spark, merged, books, baseline, version_path, dim=dim, m=m,
            k_star=k_star, threshold=threshold, force=True, seed=seed,
            id_col=id_col, vector_col=vector_col, keep_cols=keep_cols,
            **train_kwargs,
        )
        action = "refit_reencode"
    else:
        codes.unionByName(
            store_rows(
                batch, codecs=(PqCodec(books),), id_col=id_col,
                vector_col=vector_col, keep_cols=keep_cols,
            )
        ).write.mode("overwrite").parquet(version_path)
        save_codebooks(spark, version_path, books, baseline)
        new_books, new_baseline = books, baseline
        action = "append_frozen"
    seq = stores.publish_store(spark, root, version_path)
    post = pq_drift_report(
        spark, batch, new_books, new_baseline, threshold=threshold,
        vector_col=vector_col,
    ).collect()[0]
    n_store = spark.read.parquet(version_path).count()
    return spark.createDataFrame(
        [
            (
                action,
                int(report.n_batch),
                float(report.mse_ratio),
                bool(report.refit_recommended),
                int(seq),
                int(n_store),
                float(post.mse_ratio),
                bool(post.refit_recommended),
            )
        ],
        "action STRING, n_batch BIGINT, mse_ratio DOUBLE, "
        "refit_recommended BOOLEAN, published_seq INT, n_store BIGINT, "
        "post_mse_ratio DOUBLE, post_refit_recommended BOOLEAN",
    )
