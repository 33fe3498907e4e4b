"""Approximate nearest-neighbor search: index builds and the probe core.

The reference ships an ANN path but runs with it disabled
(``index_enabled=False``, /root/reference/app.py:37); when enabled, the
store builds a ``vector_kmeans_tree`` (hierarchical k-means) index
[API-inferred]. The Spark-first analogue (BASELINE.json
``spark_approach`` = "MLlib for batch indexing"): index *building* is a
Spark batch job (seeded MLlib KMeans, map-side assignment), and the
built store is partitioned by its cell columns so that probing a cell
is ordinary Parquet partition pruning — a plain filter, no custom
Catalyst rule (SURVEY.md §4). At 100 TB with 4096 cells and nprobe=8, a
query scans ~0.2% of the data.

**Read side.** Every vector-store read is one object,
:class:`VectorStore` — a ``base`` relation, a router and a codec behind
one ``search`` and one ``batch_search``; ``IvfIndex`` /
``KMeansTreeIndex`` and :func:`ivf_search_parquet` /
:func:`ivf_batch_search_parquet` are one-statement callers of it. Each
read is one router × one codec score → one coarse→rescore tail:

* **Router** — which cells a query probes: ``None`` (every row), or
  :class:`_IvfRouter` (one ``centroid_id`` level) and
  :class:`_TreeRouter` (``cell_top`` × ``cell_sub``), which each own the
  single-query pruning filter at a probe level, the widening schedule
  used by ``min_candidates``, the batch membership rows and their union
  filter, and the probe-width clamp ``max(1, min(n, n_cells))``.
  :func:`_probe_scan` (one query) and :func:`_batch_probe_scan` (a
  broadcast membership join for a batch) are the only callers of
  :func:`rank_centroids` that pick cells.
* **Predicate seam** — :func:`_apply_pred` applies a Column / SQL-string
  metadata filter inside the pruned scan, where it reaches the parquet
  reader as a pushed filter.
* **Codec** (:class:`_Codec`) — the coarse score, written once over a
  query Column (a plan literal for one query, ``_qv`` for a batch), and
  the per-query driver values that ride the batch membership rows.
  ``None`` is the float store, whose exact score (``knn_scores`` /
  ``distance``) needs no tail; ``quant.Int8Codec`` (int8 and the int8
  Matryoshka prefix), ``quant.BinaryCodec`` (Hamming over sign bits),
  ``quant.MrlCodec`` (Matryoshka prefix), ``rotation.PcaCodec`` (PCA
  prefix, the query rotated on the driver) and ``pq.PqCodec`` (ADC over
  companion or residual PQ codes, optional OPQ basis).
* **Tail** — :func:`_coarse_rescore` (one query: TakeOrderedAndProject
  over the coarse score, broadcast the ``rescore·k`` ids into the float
  relation, exact ``knn_scores``) and :func:`_batch_coarse_rescore` (a
  batch: Partial WindowGroupLimit coarse cut per query, broadcast pool,
  exact per-query top-k). Float stores need no tail: their coarse score
  is already exact.

**Write side.** Every write — batch overwrite, append and stream — is
one row projection, :func:`store_rows`: (id, the store's formats in
order, ``keep_cols``, the router's cell columns). Each codec owns its
stored columns beside its score (``columns``); ``None`` is the float
vector. Rows are routed by one nearest-cell rule (:func:`_sq_dists` +
:func:`_argmin`; the routers' ``assign``, also behind
:func:`ivf_assign` / :func:`tree_assign`, and PQ encodes each subspace
with it) and written by one cell writer (:func:`_write_cells`,
partitioned by the router's ``fields``) behind :func:`write_store`;
``streaming.ingest.stream_ingest`` is its ``writeStream`` twin.

The module also holds MLlib LSH and kNN-graph search, and the graph
analytics built on the kNN graph.
"""

from __future__ import annotations

import functools
import inspect
from collections.abc import Sequence

from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.functions.vector import distance
from ydb_vector_search_demo_spark.operators.knn import knn_scores, vector_literal
from ydb_vector_search_demo_spark.session import (
    _evict,
    _get_or_build,
    _get_or_write,
)


def _choose_probe_level(
    count_at, levels: list, min_candidates: int | None
):
    """Selectivity-aware probe widening (r3 verdict #3): walk ``levels``
    (ascending probe configurations) and return the first whose
    filtered candidate count reaches ``min_candidates``, else the last.
    ``count_at(level) -> int`` runs one count job over the pruned,
    predicate-filtered scan — at scale that reads only the probed
    partitions' filter columns (pruned + pushed down), so each widening
    step costs a sliver of a full scan. Without this, a fixed nprobe
    under a selective predicate silently starves the candidate pool
    and recall collapses — the classic filtered-ANN failure mode."""
    if min_candidates is None:
        return levels[0]
    for level in levels[:-1]:
        if count_at(level) >= min_candidates:
            return level
    return levels[-1]


def _doubling_levels(start: int, maximum: int) -> list[int]:
    """start, 2·start, 4·start, … capped at maximum (always included)."""
    levels, n = [], max(1, int(start))
    while n < maximum:
        levels.append(n)
        n *= 2
    levels.append(maximum)
    return levels


# --------------------------------------------------------------------------
# Probe core: predicate seam, cell routers, coarse→rescore tails
# --------------------------------------------------------------------------


def _apply_pred(df: DataFrame, predicate: Column | str | None) -> DataFrame:
    """The predicate seam: filter ``df`` by an optional metadata
    predicate (Column or SQL string). Probes apply it inside the pruned
    scan, so the final top-k is exact over the filtered pool; its
    columns must live in the store (``keep_cols`` at write time)."""
    if predicate is None:
        return df
    return df.filter(F.expr(predicate) if isinstance(predicate, str) else predicate)


def _probe_width(n: int, n_cells: int) -> int:
    """The one probe-width rule: at least one cell, at most all."""
    return max(1, min(int(n), n_cells))


def _codebook(centroids: Sequence[Sequence[float]]) -> Column:
    """A centroid list as an ``ARRAY<ARRAY<DOUBLE>>`` plan literal."""
    return vector_literal([[float(x) for x in c] for c in centroids])


def _sq_dists(v: Column, codebook: Column) -> Column:
    """Squared L2 distance of the double array ``v`` to every centroid of
    ``codebook`` (each a left-to-right fold)."""
    # single-arg lambda: a 2-arg function would be interpreted by
    # PySpark's HOF protocol as (element, index)
    return F.transform(
        codebook,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _argmin(dists: Column) -> Column:
    """0-based position of the first minimum: the nearest cell, ties to
    the lowest id — the rule of KMeans.transform."""
    return F.array_position(dists, F.array_min(dists)) - 1


def _nearest_cell(vector_col: str, codebook: Column) -> Column:
    """The one nearest-cell rule of every store write: the L2-nearest
    centroid of ``codebook`` as an INT cell id, map-side."""
    v = F.col(vector_col).cast("array<double>")
    return _argmin(_sq_dists(v, codebook)).cast("int")


class _IvfRouter:
    """Flat IVF routing over ``centroid_id``: cells nearest-first by
    :func:`rank_centroids`; :meth:`levels` widens by doubling ``nprobe``.
    :meth:`assign` is the assignment rule of :func:`ivf_assign` and of
    every IVF store write."""

    fields = ("centroid_id",)

    def __init__(self, centroids: list[list[float]]):
        self.centroids = centroids

    def levels(self, nprobe: int = 3, **_) -> list[int]:
        """Probe levels from ``nprobe`` (a tree's widths are ignored)."""
        n = len(self.centroids)
        return _doubling_levels(_probe_width(nprobe, n), n)

    def ranker(self, qv: list[float], metric: str):
        """level -> probed cells (1-tuples) in rank order; ranks once."""
        ranked = rank_centroids(self.centroids, qv, metric)
        return lambda n: [(c,) for c in ranked[:n]]

    @staticmethod
    def clause(cells: list[tuple]) -> Column:
        """IN filter on ``centroid_id`` — partition pruning on disk."""
        return F.col("centroid_id").isin([c for (c,) in cells])

    def assign(self, df: DataFrame, vector_col: str) -> DataFrame:
        """``df`` plus the ``centroid_id`` of its L2-nearest centroid,
        map-side."""
        return df.select(
            "*",
            _nearest_cell(vector_col, _codebook(self.centroids)).alias("centroid_id"),
        )


class _TreeRouter:
    """Two-level k-means tree routing over (``cell_top``, ``cell_sub``):
    rank the top cells, then only the probed cells' child codebooks
    (sub-linear in the cell count); :meth:`levels` is
    :func:`_tree_probe_levels`. :meth:`assign` is the assignment rule
    of :func:`tree_assign` and every tree store write; the tree build
    shares its second level, :meth:`sub_cell`."""

    fields = ("cell_top", "cell_sub")

    @staticmethod
    def sub_cell(centroids_sub: list[list[list[float]]], vector_col: str) -> Column:
        """Nearest child of the row's ``cell_top``: the child codebook is
        picked per row from a nested plan literal."""
        subs = vector_literal(
            [[[float(x) for x in c] for c in cb] for cb in centroids_sub]
        )
        return _nearest_cell(
            vector_col, F.element_at(subs, F.col("cell_top") + 1)
        ).alias("cell_sub")

    def __init__(
        self,
        centroids_top: list[list[float]],
        centroids_sub: list[list[list[float]]],
    ):
        self.top, self.sub = centroids_top, centroids_sub

    def levels(
        self, nprobe_top: int = 2, nprobe_sub: int = 2, **_
    ) -> list[tuple[int, int]]:
        """Probe levels from the two widths (a flat ``nprobe`` is ignored)."""
        k_top, k_sub = len(self.top), max(len(s) for s in self.sub)
        return _tree_probe_levels(
            _probe_width(nprobe_top, k_top), _probe_width(nprobe_sub, k_sub),
            k_top, k_sub,
        )

    def ranker(self, qv: list[float], metric: str):
        """(nprobe_top, nprobe_sub) -> probed (top, sub) cells in rank
        order; each child codebook is ranked at most once."""
        tops = rank_centroids(self.top, qv, metric)
        subs: dict[int, list[int]] = {}

        def cells(level: tuple[int, int]) -> list[tuple]:
            nt, ns = level
            out = []
            for t in tops[:nt]:
                if t not in subs:
                    subs[t] = rank_centroids(self.sub[t], qv, metric)
                out += [(t, s) for s in subs[t][:ns]]
            return out

        return cells

    @staticmethod
    def clause(cells: list[tuple]) -> Column:
        """OR-of-AND (cell_top = t AND cell_sub IN …) filter, tops in
        the order given — partition pruning at both directory levels."""
        by_top: dict[int, list[int]] = {}
        for t, s in cells:
            by_top.setdefault(t, []).append(s)
        return functools.reduce(
            lambda a, b: a | b,
            [
                (F.col("cell_top") == t) & F.col("cell_sub").isin(subs)
                for t, subs in by_top.items()
            ],
        )

    def assign(self, df: DataFrame, vector_col: str) -> DataFrame:
        """``df`` plus (``cell_top``, ``cell_sub``), map-side: the child
        codebook is picked by the just-computed ``cell_top``, so the two
        levels are two projections."""
        top = _nearest_cell(vector_col, _codebook(self.top)).alias("cell_top")
        return df.select("*", top).select("*", self.sub_cell(self.sub, vector_col))


def _probe_scan(
    base: DataFrame,
    router,
    levels: list,
    qv: list[float],
    metric: str,
    predicate: Column | str | None = None,
    min_candidates: int | None = None,
) -> tuple[DataFrame, list[tuple]]:
    """Single-query routing: (pruned, predicate-filtered ``base``, the
    probed cells) at the first of ``levels`` — or, with a predicate and
    ``min_candidates``, the first level whose filtered pool reaches it
    (:func:`_choose_probe_level`)."""
    cells_at = router.ranker(qv, metric)

    def pruned_at(level) -> DataFrame:
        return _apply_pred(base.filter(router.clause(cells_at(level))), predicate)

    level = _choose_probe_level(
        lambda lv: pruned_at(lv).count(),
        levels,
        min_candidates if predicate is not None else None,
    )
    return pruned_at(level), cells_at(level)


def _batch_probe_scan(
    base: DataFrame,
    router,
    level,
    metric: str,
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    predicate: Column | str | None = None,
    extra_fields: Sequence = (),
    extra=None,
) -> DataFrame:
    """Batch routing: per query exactly the cells its single-query probe
    reads at ``level``. The union of those cells (sorted) prunes ONE
    scan of ``base``; a broadcast (query_id, *cell fields, _qv,
    *extra_fields) membership join fans each row out only to the
    queries that probed its cell. ``extra(qv, cells)`` supplies the
    codec columns of each (query, cell) row, e.g. a PQ lookup table.
    Without a router every row meets every query (broadcast crossJoin
    of one membership row per query)."""
    members = []
    for qid, qv in _collect_query_vectors(queries, query_id_col, query_vec_col):
        cells = router.ranker(qv, metric)(level) if router is not None else [()]
        more = extra(qv, cells) if extra is not None else [()] * len(cells)
        members += [(qid, *map(int, c), qv, *m) for c, m in zip(cells, more)]
    fields = list(router.fields) if router is not None else []
    mem = _membership_df(queries, query_id_col, members, fields, extra_fields)
    if router is None:
        return _apply_pred(base, predicate).crossJoin(F.broadcast(mem))
    union = sorted({m[1 : 1 + len(fields)] for m in members})
    return _apply_pred(base.filter(router.clause(union)), predicate).join(
        F.broadcast(mem), on=fields
    )


def _coarse_rescore(
    coarse: DataFrame,
    score: Column,
    embeddings: DataFrame,
    qv: list[float],
    k: int,
    rescore: int,
    metric: str,
    id_col: str,
    vector_col: str,
) -> DataFrame:
    """Single-query tail: the top ``rescore·k`` ids of ``coarse`` by the
    codec's ``score`` (TakeOrderedAndProject — no shuffle of scored
    rows), broadcast into the float relation, exact top-k over those
    candidates. ``rescore`` is the recall knob; the final top-k is exact
    over the pool whatever the coarse loss."""
    pool = (
        coarse.select(F.col(id_col), score.alias("_coarse"))
        .orderBy(F.col("_coarse").asc_nulls_last(), F.col(id_col).asc())
        .limit(int(rescore) * k)
    )
    candidates = embeddings.join(
        F.broadcast(pool.select(id_col)), on=id_col, how="inner"
    )
    return knn_scores(
        candidates, qv, k=k, metric=metric, id_col=id_col, vector_col=vector_col
    )


def _bind_literal(value, field) -> Column:
    """A per-query driver value as the single-query plan literal of its
    membership ``field``'s type: arrays through the one array binder
    (whole-number leaves as integer words), scalars through ``F.lit``."""
    from pyspark.sql.types import ArrayType, IntegerType, LongType

    t = field.dataType
    if not isinstance(t, ArrayType):
        return F.lit(value)
    while isinstance(t, ArrayType):
        t = t.elementType
    return vector_literal(value, integers=isinstance(t, (IntegerType, LongType)))


class _Codec:
    """One store format, written once on each side. Write side:
    ``columns(df, vector_col)`` returns ``(df', {name: Column})``, the
    format's stored column set over the float ``vector_col`` (``df'``
    adds any helper column that must be computed once in its own
    projection). Read side: ``score(metric, q, *vals)``, the coarse
    score of those columns against a query Column ``q`` (the query
    vector as a plan literal in a single-query probe, the ``_qv`` or
    query-vector column in a batch) and one Column per entry of
    ``fields`` — the codec's per-query driver values (a rotated prefix,
    packed bits, a PQ lookup table and norm), computed by ``values`` for
    each probed cell and carried by the batch membership rows. ``view``
    adds columns the score reads to the coarse relation. A store without
    a codec holds float vectors, whose exact score needs no rescore
    tail."""

    fields: tuple = ()

    def values(self, qv: list[float], cells: list[tuple], metric: str) -> list:
        return [()] * len(cells)

    def view(self, df: DataFrame) -> DataFrame:
        return df

    def bind(self, qv: list[float], cells: list[tuple], metric: str) -> Column:
        """The single-query score: the query and its driver values bound
        as plan literals."""
        vals = self.values(qv, cells, metric)[0]
        return self.score(
            metric, vector_literal(qv),
            *[_bind_literal(v, f) for v, f in zip(vals, self.fields)],
        )


class VectorStore:
    """Every vector-store read: ``base`` routed by ``router`` and scored
    by ``codec``, behind one :meth:`search` and one :meth:`batch_search`
    — the analogue of the reference's one
    ``similarity_search_by_vector_with_score(v, k)`` call (the
    reference's app.py:124).

    * ``router`` — ``None`` (every row of ``base`` is a candidate),
      :class:`_IvfRouter` or :class:`_TreeRouter`; probe widths are per
      call (``nprobe`` for IVF, ``nprobe_top``/``nprobe_sub`` for a tree).
    * ``codec`` — ``None`` for float vectors (the score is exact), else a
      :class:`_Codec`: ``quant.Int8Codec`` (int8, or the int8 MRL prefix),
      ``quant.BinaryCodec``, ``quant.MrlCodec``, ``rotation.PcaCodec``,
      ``pq.PqCodec`` (companion or residual codes, optional OPQ
      rotation). An inexact codec's coarse top ``rescore·k`` is rescored
      exactly from ``embeddings``, the float relation (``base`` when
      omitted)."""

    def __init__(
        self,
        base: DataFrame,
        router=None,
        codec: _Codec | None = None,
        embeddings: DataFrame | None = None,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
    ):
        self.base, self.router, self.codec = base, router, codec
        self.embeddings = base if embeddings is None else embeddings
        self.id_col, self.vector_col = id_col, vector_col

    def search(
        self,
        query_vector: Sequence[float],
        k: int = 5,
        nprobe: int = 3,
        nprobe_top: int = 2,
        nprobe_sub: int = 2,
        rescore: int = 4,
        metric: str = "cosine",
        predicate: Column | str | None = None,
        min_candidates: int | None = None,
    ) -> DataFrame:
        """Top-k (id, score) of one query. ``predicate`` (Column or SQL
        string) filters inside the pruned scan; with ``min_candidates``
        the probe widens until the filtered pool reaches it. ``rescore``
        is the recall knob of an inexact codec: the final top-k is exact
        over the coarse top ``rescore·k`` (filtered) candidates, which
        are all the float relation is read for."""
        qv = [float(x) for x in query_vector]
        base = self.base if self.codec is None else self.codec.view(self.base)
        if self.router is None:
            coarse, cells = _apply_pred(base, predicate), [()]
        else:
            levels = self.router.levels(
                nprobe=nprobe, nprobe_top=nprobe_top, nprobe_sub=nprobe_sub
            )
            coarse, cells = _probe_scan(
                base, self.router, levels, qv, metric, predicate, min_candidates
            )
        if self.codec is None:
            return knn_scores(
                coarse, qv, k=k, metric=metric, id_col=self.id_col,
                vector_col=self.vector_col,
            )
        return _coarse_rescore(
            coarse, self.codec.bind(qv, cells, metric), self.embeddings, qv,
            k, rescore, metric, self.id_col, self.vector_col,
        )

    def batch_search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 3,
        nprobe_top: int = 2,
        nprobe_sub: int = 2,
        rescore: int = 4,
        metric: str = "cosine",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        score_col: str = "score",
        rank_col: str = "rank",
        predicate: Column | str | None = None,
    ) -> DataFrame:
        """Per-query top-k of a query DataFrame in ONE scan: each query
        reads exactly the cells its :meth:`search` reads (broadcast
        membership join, :func:`_batch_probe_scan`), and each query's
        rows equal that single-query probe's. Selectivity-aware
        widening is per query by nature and stays in :meth:`search`."""
        codec = self.codec
        base = self.base if codec is None else codec.view(self.base)
        fields = () if codec is None else codec.fields
        if self.router is None and not fields:
            coarse = _apply_pred(base, predicate).crossJoin(
                F.broadcast(queries.select(query_id_col, query_vec_col))
            )
            q = query_vec_col
        else:
            level = None if self.router is None else self.router.levels(
                nprobe=nprobe, nprobe_top=nprobe_top, nprobe_sub=nprobe_sub
            )[0]
            extra = None if codec is None else (
                lambda qv, cells: codec.values(qv, cells, metric)
            )
            coarse = _batch_probe_scan(
                base, self.router, level, metric, queries, query_id_col,
                query_vec_col, predicate, fields, extra,
            )
            q = "_qv"
        if codec is None:
            scored = coarse.select(
                F.col(query_id_col), F.col(self.id_col),
                distance(self.vector_col, q, metric).alias(score_col),
            )
            return _batch_topk(
                scored, k, query_id_col, self.id_col, score_col, rank_col
            )
        return _batch_coarse_rescore(
            coarse, codec.score(metric, F.col(q), *[F.col(f.name) for f in fields]),
            self.embeddings, queries, k, rescore, metric, query_id_col,
            query_vec_col, self.id_col, self.vector_col, score_col, rank_col,
        )


class IvfIndex:
    """IVF(flat) index: KMeans centroids + centroid assignment column.

    ``assigned`` keeps only (id, vector, centroid_id) — at scale this is
    what gets written out partitioned by ``centroid_id``; ``centroids``
    is a tiny driver-side list (k × dim floats) that travels as plan
    literals, never a collect of corpus data."""

    def __init__(self, assigned: DataFrame, centroids: list[list[float]],
                 id_col: str, vector_col: str):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.vector_col = vector_col

    @property
    def store(self) -> VectorStore:
        """The index as a float :class:`VectorStore` over ``assigned``."""
        return VectorStore(
            self.assigned, _IvfRouter(self.centroids), id_col=self.id_col,
            vector_col=self.vector_col,
        )

    def search(
        self,
        query_vector: Sequence[float],
        k: int = 5,
        nprobe: int = 3,
        metric: str = "cosine",
        predicate: Column | str | None = None,
        min_candidates: int | None = None,
    ) -> DataFrame:
        """Rank centroids on the driver (k_clusters tiny), prune to the
        ``nprobe`` nearest cells with an ordinary IN filter (→ partition
        pruning on a centroid-partitioned layout), exact-rescore inside.

        ``predicate`` (metadata filter, Column or SQL string) applies
        *inside* the pruned scan — the filtered-vector-search shape
        (RAG over a tenant/date slice). With ``min_candidates`` set,
        ``nprobe`` doubles until the filtered candidate pool reaches it
        (or every cell is probed) — see :func:`_choose_probe_level`."""
        return self.store.search(
            query_vector, k, nprobe=nprobe, metric=metric, predicate=predicate,
            min_candidates=min_candidates,
        )

    def batch_search(self, queries: DataFrame, **kwargs) -> DataFrame:
        """Batched probe: the whole query DataFrame through one pruned
        scan — see :meth:`VectorStore.batch_search`."""
        return self.store.batch_search(queries, **kwargs)


def rank_centroids(
    centroids: list[list[float]], query_vector: Sequence[float], metric: str = "cosine"
) -> list[int]:
    """Centroid ids sorted nearest-first to the query — driver-side math
    over k_clusters × dim floats (tiny by construction)."""
    import math

    qv = [float(x) for x in query_vector]

    def _dist(c: list[float]) -> float:
        if metric == "euclidean":
            return math.sqrt(sum((a - b) ** 2 for a, b in zip(c, qv)))
        if metric == "manhattan":
            return sum(abs(a - b) for a, b in zip(c, qv))
        dotp = sum(a * b for a, b in zip(c, qv))
        if metric == "inner_product":
            return -dotp
        na = math.sqrt(sum(a * a for a in c))
        nb = math.sqrt(sum(b * b for b in qv))
        return 1.0 - dotp / (na * nb) if na and nb else 1.0

    return sorted(range(len(centroids)), key=lambda i: _dist(centroids[i]))


def ivf_search_parquet(
    spark: SparkSession,
    path: str,
    centroids: list[list[float]],
    query_vector: Sequence[float],
    k: int = 5,
    nprobe: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    predicate: Column | str | None = None,
    min_candidates: int | None = None,
) -> DataFrame:
    """Query a persisted centroid-partitioned store (the 100 TB serving
    path): the IN-filter on ``centroid_id`` becomes Parquet PARTITION
    pruning — only nprobe/k_clusters of the directory tree is listed,
    read, or scored. Centroids travel with the query (driver-side list),
    never read from the cluster.

    ``predicate`` applies inside the pruned scan and reaches the
    parquet reader as a pushed filter (plan-asserted in tests) — data
    that fails the metadata filter is skipped at the row-group level,
    not scored. ``min_candidates`` enables selectivity-aware nprobe
    doubling (each widening step counts only the pruned, filtered
    scan)."""
    return VectorStore(
        spark.read.parquet(path), _IvfRouter(centroids), id_col=id_col,
        vector_col=vector_col,
    ).search(
        query_vector, k, nprobe=nprobe, metric=metric, predicate=predicate,
        min_candidates=min_candidates,
    )


def _fit_kmeans(
    embeddings: DataFrame, k: int, seed: int, vector_col: str, max_iter: int,
    fit_sample_fraction: float | None,
):
    """(persisted ``features`` relation, seeded MLlib KMeans model fit on
    it or on its seeded sample) — the first level of every index build.
    The persist matters: KMeans re-reads its input every iteration, so
    without it the scan + vector conversion run max_iter+2 times."""
    feats = embeddings.withColumn(
        "features", array_to_vector(F.col(vector_col).cast("array<double>"))
    ).persist()
    fit_input = (
        feats.sample(fraction=fit_sample_fraction, seed=seed)
        if fit_sample_fraction is not None
        else feats
    )
    model = KMeans(
        k=k, seed=seed, featuresCol="features", maxIter=max_iter
    ).fit(fit_input)
    return feats, model


def build_ivf_index(
    embeddings: DataFrame,
    k_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    max_iter: int = 8,
    fit_sample_fraction: float | None = None,
    keep_cols: Sequence[str] = (),
) -> IvfIndex:
    """Batch index build: MLlib KMeans (seeded → deterministic) over the
    corpus; one pass to fit on (a sample of) the data, one map-only pass
    to assign ``centroid_id``. The ml.linalg.Vector conversion exists
    only at the MLlib boundary; storage stays ARRAY<FLOAT>
    (SURVEY.md §7.4). ``max_iter=8``: an IVF coarse quantizer needs
    roughly-balanced cells, not converged ones — recall comes from
    nprobe, so the default-20 iterations buy nothing.
    ``fit_sample_fraction`` trains the quantizer on a seeded sample and
    then assigns the FULL corpus map-side — the standard IVF recipe at
    scale, where a full-corpus KMeans is the most expensive part of the
    build for no recall benefit. ``keep_cols`` carries metadata columns
    (tenant, date, label, …) into the assigned store so filtered probes
    (``search(predicate=...)``) can push them down; pass a tuple when
    using the session cache."""
    feats, model = _fit_kmeans(
        embeddings, k_clusters, seed, vector_col, max_iter, fit_sample_fraction
    )
    assigned = (
        model.transform(feats)
        .select(id_col, vector_col, *keep_cols, F.col("prediction").alias("centroid_id"))
    )
    # materialize the assignment eagerly (this IS the index build — the
    # batch job's output), then release the KMeans input cache; every
    # subsequent probe scans the cached assignment only
    assigned = assigned.persist()
    assigned.count()
    feats.unpersist()
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return IvfIndex(assigned, centroids, id_col, vector_col)


# Session-scope index cache for IVF and tree indexes: build once per
# key, probe many times — the build/probe split a production IVF has
# (the build is a periodic batch job, probes are the steady-state
# workload). Locked get-or-build through ``session._get_or_build``;
# entries live until clear_index_cache / clear_tree_cache.
_INDEX_CACHE: dict[tuple, object] = {}


def _hashable(v):
    """Cache-key normalization: list-valued build kwargs (keep_cols)
    become tuples so the session-cache key stays hashable."""
    return tuple(v) if isinstance(v, list) else v


def _cached_index(
    kind: str, build, embeddings: DataFrame, cache_key, sizes: dict,
    build_kwargs: dict,
):
    """``build(embeddings, **sizes, **build_kwargs)`` through the session
    cache; ``cache_key=None`` always builds. The key is (kind,
    cache_key, the input relation's ``semanticHash()``, sizes, build
    kwargs normalized against ``build``'s defaults): two relations
    under one cache_key never share an index, and a kwarg passed at its
    default hits the same entry as one omitted."""
    if cache_key is None:
        return build(embeddings, **sizes, **build_kwargs)
    # the build parameters are part of the identity — a sampled-fit
    # index must never be returned to a caller asking for a full-fit
    # one (or a different seed/max_iter)
    norm = tuple(
        (name, _hashable(build_kwargs.get(name, p.default)))
        for name, p in inspect.signature(build).parameters.items()
        if name != "embeddings" and name not in sizes
    )
    key = (kind, cache_key, embeddings.semanticHash(), *sizes.values(), norm)
    return _get_or_build(
        _INDEX_CACHE, key, lambda: build(embeddings, **sizes, **build_kwargs)
    )


def _clear_cached(kind: str) -> None:
    """Drop every cached index of ``kind`` and release its persisted
    assignment."""
    _evict(
        _INDEX_CACHE, lambda index: index.assigned.unpersist(),
        lambda key: key[0] == kind,
    )


def clear_index_cache() -> None:
    """Drop every session-cached IVF index and release its persisted
    assignment (benchmarks use this to make each build trial real)."""
    _clear_cached("ivf")


def get_or_build_ivf_index(
    embeddings: DataFrame,
    k_clusters: int = 16,
    cache_key: object | None = None,
    **build_kwargs,
) -> IvfIndex:
    """Return a cached IvfIndex for (cache_key, input relation,
    k_clusters, normalized build params), building it on first use —
    once, however many threads ask (:func:`_cached_index`).
    ``cache_key`` names the corpus (e.g. its path); pass None to always
    rebuild. Keeps per-call benchmarks honest: probe-time measurements
    no longer pay a KMeans refit per query."""
    return _cached_index(
        "ivf", build_ivf_index, embeddings, cache_key,
        {"k_clusters": k_clusters}, build_kwargs,
    )


def store_rows(
    vectors: DataFrame,
    router=None,
    codecs: Sequence = (None,),
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """The one row projection of every vector-store write: (id, each
    format's stored columns in ``codecs`` order, *keep_cols, *the
    router's cell columns). A format is ``None``, the float vector
    itself, or a :class:`_Codec`, which owns its column set
    (``columns``). Rows that lack the router's cell columns are routed
    map-side (the router's ``assign``); rows that carry them (an
    index's ``assigned``) keep their build-time cells. Without a router
    this is the in-memory encoder of a format. ``keep_cols`` carries
    metadata for filtered probes. Two formats writing one column is a
    ``ValueError``."""
    fields = () if router is None else router.fields
    if router is not None and not set(fields) <= set(vectors.columns):
        vectors = router.assign(vectors, vector_col)
    df, names = vectors, []
    for codec in codecs:
        if codec is None:
            names.append(vector_col)
            continue
        df, cols = codec.columns(df, vector_col)
        df = df.withColumns(cols)
        names += cols
    clash = sorted({n for n in names if names.count(n) > 1})
    if clash:
        raise ValueError(
            f"two formats write the same column {clash}: a store holds one "
            "format per column — pick one"
        )
    return df.select(id_col, *names, *keep_cols, *fields)


def _write_cells(df: DataFrame, router, path: str, mode: str = "overwrite") -> None:
    """The one batch cell writer: ``df`` partitioned by the router's
    cell columns (``router.fields``; unpartitioned without a router), so
    a probe's cell filter becomes Parquet partition pruning.
    ``mode="append"`` adds files to the touched cells only; existing
    data is never rewritten."""
    fields = () if router is None else router.fields
    df.write.mode(mode).partitionBy(*fields).parquet(path)


def write_store(
    vectors: DataFrame,
    path: str,
    router=None,
    codecs: Sequence = (None,),
    mode: str = "overwrite",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> None:
    """The one vector-store write — batch overwrite, or with
    ``mode="append"`` the store's append: :func:`store_rows` through
    the one cell writer (:func:`_write_cells`). ``router`` is ``None``,
    an :class:`_IvfRouter` or a :class:`_TreeRouter`; ``codecs`` lists
    the store's formats (``None`` for the float vector, e.g.
    ``(quant.Int8Codec(),)`` for an int8 companion store)."""
    _write_cells(
        store_rows(vectors, router, codecs, id_col, vector_col, keep_cols),
        router, path, mode,
    )


def write_ivf_partitioned(index: IvfIndex, path: str) -> None:
    """Persist the assigned corpus partitioned by centroid_id — queries
    that filter on centroid_id then hit Parquet partition pruning. The
    metadata columns the build carried stay in the store."""
    write_store(
        index.assigned, path, index.store.router, id_col=index.id_col,
        vector_col=index.vector_col,
        keep_cols=[
            c for c in index.assigned.columns
            if c not in (index.id_col, index.vector_col, "centroid_id")
        ],
    )


def ivf_assign(
    centroids: list[list[float]],
    vectors: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """Assign vectors to their nearest (Euclidean) centroid as a pure
    map-side expression — the incremental-ingest path: new embeddings
    join the index WITHOUT a KMeans refit. The centroid matrix travels
    as plan literals (k × dim floats); no shuffle, no MLlib model
    object, identical assignment rule to KMeans.transform. ``keep_cols``
    carries metadata for filtered probes, as in every store write."""
    return _IvfRouter(centroids).assign(
        vectors.select(id_col, vector_col, *keep_cols), vector_col
    )


def ivf_append(
    centroids: list[list[float]],
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> None:
    """Incremental index maintenance: route new vectors to their cells
    and append to the centroid-partitioned store — only the touched
    partitions gain files; existing data is never rewritten. Periodic
    re-clustering (build_ivf_index + write_ivf_partitioned) rebalances
    when cell sizes drift. ``keep_cols`` carries the store's metadata
    columns onto the new rows, so filtered probes see them."""
    write_store(
        new_vectors, path, _IvfRouter(centroids), mode="append",
        id_col=id_col, vector_col=vector_col, keep_cols=keep_cols,
    )


def recall_at_k(exact_ids: list, ann_ids: list) -> float:
    """|ANN ∩ exact| / k — the ANN quality metric (BASELINE.md)."""
    if not exact_ids:
        return 1.0
    return len(set(exact_ids) & set(ann_ids)) / len(exact_ids)


def ivf_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    k_clusters: int = 16,
    nprobe: int = 3,
    metric: str = "cosine",
    cache_key: object | None = None,
    **build_kwargs,
) -> DataFrame:
    """One-row DataFrame with recall@k of the IVF index vs exact KNN on
    the same corpus — the reference's (disabled) ANN path, measured.
    With ``cache_key`` set, the index builds once per session and this
    measures the probe path only (plus the exact-KNN ground truth)."""
    exact = [r[0] for r in knn_scores(embeddings, query_vector, k, metric).collect()]
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key, **build_kwargs
    )
    approx = [r[0] for r in index.search(query_vector, k=k, nprobe=nprobe, metric=metric).collect()]
    r = recall_at_k(exact, approx)
    return spark.createDataFrame(
        [(k, k_clusters, nprobe, float(r))],
        "k INT, k_clusters INT, nprobe INT, recall DOUBLE",
    )


def ivf_recall_sweep(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    k_clusters: int = 16,
    nprobes: Sequence[int] = (1, 2, 4, 8),
    metric: str = "cosine",
    cache_key: object | None = None,
    **build_kwargs,
) -> DataFrame:
    """recall@k as a function of nprobe on one built index — the
    quality/cost tradeoff curve that sizes nprobe in production (each
    probe step scans ~1/k_clusters more of the corpus)."""
    exact = [r[0] for r in knn_scores(embeddings, query_vector, k, metric).collect()]
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key, **build_kwargs
    )
    rows = []
    for nprobe in nprobes:
        approx = [
            r[0]
            for r in index.search(query_vector, k=k, nprobe=nprobe, metric=metric).collect()
        ]
        rows.append((k, k_clusters, int(nprobe), float(recall_at_k(exact, approx))))
    return spark.createDataFrame(
        rows, "k INT, k_clusters INT, nprobe INT, recall DOUBLE"
    )


class KMeansTreeIndex:
    """Two-level k-means tree — the faithful analogue of YDB's
    ``vector_kmeans_tree`` index type [API-inferred,
    /root/reference/app.py:37]: level-1 KMeans carves the corpus into
    ``k_top`` cells, a level-2 KMeans inside each cell carves it into
    ``k_sub`` sub-cells. With k_top*k_sub effective cells, query-time
    centroid ranking costs k_top + nprobe_top*k_sub comparisons instead
    of the flat index's k_top*k_sub — sub-linear in the cell count,
    which is what keeps the coarse quantizer cheap when k_clusters
    grows into the tens of thousands at 100 TB.

    ``assigned`` carries (id, vector, cell_top, cell_sub); at scale it
    is written out partitioned by both cell columns so the
    two-level probe filter becomes directory-level partition pruning.
    ``centroids_sub[t]`` is the child codebook of top cell ``t`` —
    driver-side lists (k_top*k_sub*dim floats), plan literals only."""

    def __init__(
        self,
        assigned: DataFrame,
        centroids_top: list[list[float]],
        centroids_sub: list[list[list[float]]],
        id_col: str,
        vector_col: str,
    ):
        self.assigned = assigned
        self.centroids_top = centroids_top
        self.centroids_sub = centroids_sub
        self.id_col = id_col
        self.vector_col = vector_col

    @property
    def store(self) -> VectorStore:
        """The tree as a float :class:`VectorStore` over ``assigned``."""
        return VectorStore(
            self.assigned, _TreeRouter(self.centroids_top, self.centroids_sub),
            id_col=self.id_col, vector_col=self.vector_col,
        )

    def search(
        self,
        query_vector: Sequence[float],
        k: int = 5,
        nprobe_top: int = 2,
        nprobe_sub: int = 2,
        metric: str = "cosine",
        predicate: Column | str | None = None,
        min_candidates: int | None = None,
    ) -> DataFrame:
        """Rank top cells (k_top comparisons), then ONLY the probed
        cells' child codebooks (nprobe_top*k_sub comparisons); prune to
        the chosen (cell_top, cell_sub) pairs — an OR-of-AND filter that
        partition-prunes on the two-level layout — and exact-rescore.

        ``predicate``/``min_candidates``: filtered probe with
        selectivity-aware widening, same contract as
        :meth:`IvfIndex.search` — the probe set grows along
        :func:`_tree_probe_levels` (sub first, then top) until the
        filtered candidate pool reaches ``min_candidates``."""
        return self.store.search(
            query_vector, k, nprobe_top=nprobe_top, nprobe_sub=nprobe_sub,
            metric=metric, predicate=predicate, min_candidates=min_candidates,
        )

    def batch_search(self, queries: DataFrame, **kwargs) -> DataFrame:
        """Batched probe: the whole query DataFrame through one pruned
        scan, row-identical per query to :meth:`search` at equal
        nprobes — see :meth:`VectorStore.batch_search`."""
        return self.store.batch_search(queries, **kwargs)


def _tree_probe_levels(
    nprobe_top: int, nprobe_sub: int, k_top: int, k_sub: int
) -> list[tuple[int, int]]:
    """Widening schedule for the two-level probe: double nprobe_sub to
    k_sub first (stays inside the already-ranked top cells — cheapest
    marginal candidates), then double nprobe_top to k_top."""
    levels = [
        (nprobe_top, ns) for ns in _doubling_levels(nprobe_sub, k_sub)
    ]
    levels += [
        (nt, k_sub) for nt in _doubling_levels(nprobe_top, k_top)[1:]
    ]
    return levels


def build_kmeans_tree_index(
    embeddings: DataFrame,
    k_top: int = 8,
    k_sub: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    max_iter: int = 8,
    fit_sample_fraction: float | None = None,
    keep_cols: Sequence[str] = (),
    child_fit_parallelism: int = 16,
) -> KMeansTreeIndex:
    """Build the two-level tree: one level-1 KMeans over (a sample of)
    the corpus, then one level-2 KMeans per top cell over (a sample of)
    that cell's rows. ``keep_cols`` carries metadata columns into the
    assigned store for filtered probes (pass a tuple when using the
    session cache). ``child_fit_parallelism`` submits that many child
    fits concurrently (1 = sequential); results are seed-deterministic
    and independent of the setting. The k_top child fits are small independent batch
    jobs (cell-sized inputs, sampled); the final sub-assignment is ONE
    map-only pass over the corpus — the child codebook is selected per
    row by ``cell_top`` from a nested plan literal, no per-cell scan,
    no shuffle beyond level-1 assignment.

    Cells smaller than ``k_sub`` get a clamped child k (an empty cell
    keeps a single zero-centroid child) so degenerate level-1 splits
    can't fail the build."""
    feats, top_model = _fit_kmeans(
        embeddings, k_top, seed, vector_col, max_iter, fit_sample_fraction
    )
    assigned_top = top_model.transform(feats).select(
        id_col, vector_col, *keep_cols, "features",
        F.col("prediction").alias("cell_top"),
    ).persist()
    assigned_top.count()
    feats.unpersist()
    centroids_top = [list(map(float, c)) for c in top_model.clusterCenters()]

    cell_sizes = {
        r["cell_top"]: r["n"]
        for r in assigned_top.groupBy("cell_top").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    def _fit_child(t: int) -> list[list[float]]:
        n = cell_sizes.get(t, 0)
        if n < 2:
            # degenerate level-1 cell (empty or singleton): a single
            # child at the parent centroid — every row maps to sub 0
            # and MLlib (which requires k >= 2) is never consulted
            return [centroids_top[t]]
        cell = assigned_top.filter(F.col("cell_top") == t)
        if fit_sample_fraction is not None and n * fit_sample_fraction >= k_sub:
            cell = cell.sample(fraction=fit_sample_fraction, seed=seed + t)
        try:
            sub_model = KMeans(
                k=min(k_sub, n), seed=seed + t, featuresCol="features",
                maxIter=max_iter,
            ).fit(cell)
        except Exception:
            # MLlib KMeans can fail outright (KMeansAggregator AIOOBE)
            # when a cell's sample has fewer distinct points than k —
            # near-duplicate-heavy corpora hit this in practice. Clamp
            # k to the cell's distinct-point count and refit; a cell
            # with one distinct point keeps a single child at the
            # parent centroid.
            nd = cell.select(vector_col).distinct().count()
            kk = min(k_sub, n, nd)
            if kk < 2:
                return [centroids_top[t]]
            try:
                sub_model = KMeans(
                    k=kk, seed=seed + t, featuresCol="features",
                    maxIter=max_iter,
                ).fit(cell)
            except Exception:
                return [centroids_top[t]]
        return [list(map(float, c)) for c in sub_model.clusterCenters()]

    # The k_top child fits are independent small jobs over the CACHED
    # level-1 assignment; submitted concurrently from driver threads so
    # the cluster interleaves their (individually under-parallel)
    # stages — build cost stays flat as k_top grows past ~100 instead
    # of paying k_top sequential job latencies (r3 verdict #6). Each
    # fit keeps its own (seed + t), so the codebook is bit-identical
    # to the sequential build at any parallelism.
    if child_fit_parallelism > 1 and k_top > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(int(child_fit_parallelism), k_top)
        ) as pool:
            centroids_sub = list(pool.map(_fit_child, range(k_top)))
    else:
        centroids_sub = [_fit_child(t) for t in range(k_top)]

    # single map-only sub-assignment pass: per row, the nearest child
    # of its cell_top (the tree router's rule, shared with tree_assign)
    assigned = assigned_top.select(
        id_col, vector_col, *keep_cols, "cell_top",
        _TreeRouter.sub_cell(centroids_sub, vector_col),
    ).persist()
    assigned.count()
    assigned_top.unpersist()
    return KMeansTreeIndex(assigned, centroids_top, centroids_sub, id_col, vector_col)


def clear_tree_cache() -> None:
    _clear_cached("tree")


def get_or_build_kmeans_tree(
    embeddings: DataFrame,
    k_top: int = 8,
    k_sub: int = 4,
    cache_key: object | None = None,
    **build_kwargs,
) -> KMeansTreeIndex:
    """Session-scope tree cache — same identity and locking rules as
    :func:`get_or_build_ivf_index`."""
    return _cached_index(
        "tree", build_kmeans_tree_index, embeddings, cache_key,
        {"k_top": k_top, "k_sub": k_sub}, build_kwargs,
    )


def tree_assign(
    centroids_top: list[list[float]],
    centroids_sub: list[list[list[float]]],
    vectors: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to their (cell_top, cell_sub) pair as a pure
    map-side expression — the tree's incremental-ingest path, mirroring
    :func:`ivf_assign`: new embeddings join the index WITHOUT a KMeans
    refit. Both codebooks travel as plan literals; the level-2 child
    codebook is selected per row by the just-computed ``cell_top`` —
    no shuffle, no MLlib model object, same Euclidean rule as
    KMeans.transform at each level."""
    return _TreeRouter(centroids_top, centroids_sub).assign(
        vectors.select(id_col, vector_col), vector_col
    )


def tree_leaf_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-leaf (cell_top, cell_sub) row AND byte counts for a persisted
    two-level store — the measurement half of the incremental-ingest
    maintenance story (r3 verdict #5): an append (:func:`write_store`,
    ``mode="append"``) routes new vectors into existing leaves without
    refitting, so popular leaves
    fatten over time and probe cost skews. Row counts come from one
    aggregation over the store (partition-column-only scan — the
    parquet reader materializes cell_top/cell_sub from directory names,
    reading no data pages); byte counts from a recursive FileSystem
    listing (a metadata op on any Hadoop FS, never a data read)."""
    return _leaf_stats(spark, path, list(_TreeRouter.fields))


def _leaf_stats(
    spark: SparkSession, path: str, partition_cols: list[str]
) -> DataFrame:
    """Shared leaf-stats shape for any partition-directory store layout:
    row counts from one partition-column-only aggregation (no data
    pages read), byte counts from the Hadoop FS recursive listing
    (``tables.fs_file_bytes`` — a metadata op on any Hadoop FS)."""
    import re

    from ydb_vector_search_demo_spark.sources.tables import fs_file_bytes

    rows = (
        spark.read.parquet(path)
        .groupBy(*partition_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    pat = re.compile("/".join(f"{c}=(\\d+)" for c in partition_cols) + "/")
    by_leaf: dict[tuple[int, ...], int] = {}
    for fpath, fbytes in fs_file_bytes(spark, path):
        m = pat.search(fpath)
        if m:
            key = tuple(int(g) for g in m.groups())
            by_leaf[key] = by_leaf.get(key, 0) + fbytes
    sizes = spark.createDataFrame(
        [(*k, b) for k, b in sorted(by_leaf.items())],
        ", ".join(f"{c} INT" for c in partition_cols) + ", leaf_bytes BIGINT",
    )
    return (
        rows.join(F.broadcast(sizes), on=partition_cols, how="left")
        .orderBy(*partition_cols)
    )


def _drift_report(
    spark: SparkSession, counts: list[int], skew_threshold: float
) -> DataFrame:
    """One-row balance summary shared by the tree and flat-IVF layouts:
    ``skew_ratio`` = max leaf rows / mean leaf rows, compared against
    the documented probe-latency budget."""
    total = sum(counts)
    mean = total / len(counts) if counts else 0.0
    skew = (max(counts) / mean) if mean else 0.0
    return spark.createDataFrame(
        [
            (
                len(counts),
                total,
                int(min(counts)) if counts else 0,
                int(max(counts)) if counts else 0,
                round(mean, 3),
                round(skew, 6),
                float(skew_threshold),
                bool(skew > skew_threshold),
            )
        ],
        "n_leaves INT, total_rows BIGINT, min_leaf INT, max_leaf INT, "
        "mean_leaf DOUBLE, skew_ratio DOUBLE, skew_threshold DOUBLE, "
        "needs_rebalance BOOLEAN",
    )


def tree_drift_report(
    spark: SparkSession, path: str, skew_threshold: float = 4.0
) -> DataFrame:
    """One-row leaf-balance summary with the rebalance decision:
    ``skew_ratio`` = max leaf rows / mean leaf rows. The documented
    threshold (default 4.0) is a probe-latency budget: a query probing
    the fattest leaf scans ``skew_ratio``× the average leaf, so once
    drift exceeds the budget, :func:`rebalance_tree` rebuilds. Leaf
    counts are k_top·k_sub — driver-side math over a tiny collect."""
    counts = [r.n_rows for r in tree_leaf_stats(spark, path).collect()]
    return _drift_report(spark, counts, skew_threshold)


def rebalance_tree(
    spark: SparkSession,
    path: str,
    out_path: str,
    k_top: int = 8,
    k_sub: int = 4,
    skew_threshold: float = 4.0,
    force: bool = False,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    **build_kwargs,
) -> KMeansTreeIndex | None:
    """Threshold-triggered re-clustering — the rebuild half of the
    maintenance family (compact_store's analogue for the tree index):
    when :func:`tree_drift_report` crosses ``skew_threshold`` (or
    ``force``), refit the two-level tree on the store's CURRENT
    contents (metadata columns are preserved as keep_cols) and write
    the rebalanced store to ``out_path``. Returns the new index, or
    None when the store is still balanced. Never writes in place —
    publish ``out_path`` atomically with ``stores.publish_store``
    (write-new-then-rename manifest), same contract as
    :func:`~ydb_vector_search_demo_spark.pipeline.rag.compact_store`."""
    if not force and not tree_drift_report(
        spark, path, skew_threshold
    ).collect()[0].needs_rebalance:
        return None
    build = _rebuild_input(spark, path, _TreeRouter, id_col, vector_col)
    index = build_kmeans_tree_index(
        **build, k_top=k_top, k_sub=k_sub, **build_kwargs
    )
    write_store(
        index.assigned, out_path, index.store.router, id_col=id_col,
        vector_col=vector_col, keep_cols=build["keep_cols"],
    )
    return index


def _rebuild_input(spark, path, router, id_col: str, vector_col: str) -> dict:
    """A rebalance's build input: the store's CURRENT rows without their
    cell columns, every other column kept as ``keep_cols``."""
    data = spark.read.parquet(path).drop(*router.fields)
    keep = tuple(c for c in data.columns if c not in (id_col, vector_col))
    return dict(
        embeddings=data, id_col=id_col, vector_col=vector_col, keep_cols=keep
    )


def ivf_leaf_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell (centroid_id) row AND byte counts for a persisted flat
    IVF store — maintenance parity with :func:`tree_leaf_stats` on the
    simpler (and more commonly deployed) single-level layout (r4
    verdict, What's-missing #2): ``ivf_append`` and the streaming
    ingest route new vectors into existing cells without refitting, so
    popular cells fatten and probe cost skews. Row counts are a
    partition-column-only aggregation; byte counts come from the
    Hadoop FS recursive listing — no data pages read by either."""
    return _leaf_stats(spark, path, list(_IvfRouter.fields))


def ivf_drift_report(
    spark: SparkSession, path: str, skew_threshold: float = 4.0
) -> DataFrame:
    """One-row cell-balance summary with the rebalance decision for the
    flat IVF store — the same skew_ratio-vs-threshold contract (default
    4.0, a probe-latency budget) as :func:`tree_drift_report`."""
    counts = [r.n_rows for r in ivf_leaf_stats(spark, path).collect()]
    return _drift_report(spark, counts, skew_threshold)


def rebalance_ivf(
    spark: SparkSession,
    path: str,
    out_path: str,
    k_clusters: int = 16,
    skew_threshold: float = 4.0,
    force: bool = False,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    **build_kwargs,
) -> IvfIndex | None:
    """Threshold-triggered re-clustering of the flat IVF store,
    mirroring :func:`rebalance_tree`: when :func:`ivf_drift_report`
    crosses ``skew_threshold`` (or ``force``), refit KMeans on the
    store's CURRENT contents (metadata columns preserved as keep_cols)
    and write the rebalanced store to ``out_path``. Returns the new
    index, or None while the store is still balanced. Never writes in
    place — publish the new path atomically with
    ``stores.publish_store`` (write-new-then-rename manifest)."""
    if not force and not ivf_drift_report(
        spark, path, skew_threshold
    ).collect()[0].needs_rebalance:
        return None
    index = build_ivf_index(
        **_rebuild_input(spark, path, _IvfRouter, id_col, vector_col),
        k_clusters=k_clusters, **build_kwargs,
    )
    write_ivf_partitioned(index, out_path)
    return index


def tree_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    k_top: int = 8,
    k_sub: int = 4,
    nprobe_top: int = 2,
    nprobe_sub: int = 2,
    metric: str = "cosine",
    cache_key: object | None = None,
    **build_kwargs,
) -> DataFrame:
    """recall@k of the two-level tree vs exact KNN, with the scanned
    fraction (probed cells / total cells) alongside — the number that
    makes tree-vs-flat comparisons fair (equal scanned fraction, not
    equal nprobe)."""
    exact = [r[0] for r in knn_scores(embeddings, query_vector, k, metric).collect()]
    index = get_or_build_kmeans_tree(
        embeddings, k_top=k_top, k_sub=k_sub, cache_key=cache_key, **build_kwargs
    )
    approx = [
        r[0]
        for r in index.search(
            query_vector, k=k, nprobe_top=nprobe_top, nprobe_sub=nprobe_sub,
            metric=metric,
        ).collect()
    ]
    r = recall_at_k(exact, approx)
    frac = (nprobe_top * nprobe_sub) / float(k_top * k_sub)
    return spark.createDataFrame(
        [(k, k_top, k_sub, nprobe_top, nprobe_sub, round(frac, 6), float(r))],
        "k INT, k_top INT, k_sub INT, nprobe_top INT, nprobe_sub INT, "
        "scanned_fraction DOUBLE, recall DOUBLE",
    )


def filtered_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    predicate: Column | str,
    k: int = 10,
    k_clusters: int = 16,
    nprobe: int = 2,
    rescore_factor: int = 3,
    metric: str = "cosine",
    cache_key: object | None = None,
    keep_cols: Sequence[str] = ("label",),
    **build_kwargs,
) -> DataFrame:
    """Filtered-ANN quality report (r3 verdict #3): recall@k of the
    predicate-filtered IVF probe vs predicate-filtered *exact* KNN
    (the `knn_top5_filtered` shape), measured twice — at the fixed
    starting ``nprobe`` and at the selectivity-widened nprobe (doubled
    until the filtered candidate pool reaches ``rescore_factor·k``).
    The gap between ``recall_fixed`` and ``recall_widened`` is exactly
    what a fixed-nprobe filtered search silently loses under a
    selective predicate."""
    qv = [float(x) for x in query_vector]
    filtered = _apply_pred(embeddings, predicate)
    exact = [
        r[0] for r in knn_scores(filtered, qv, k, metric).collect()
    ]
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key,
        keep_cols=tuple(keep_cols), **build_kwargs,
    )
    fixed = [
        r[0]
        for r in index.search(qv, k=k, nprobe=nprobe, metric=metric,
                              predicate=predicate).collect()
    ]
    # widened level computed once here so it can be *reported*. ONE
    # per-cell filtered count job + a driver-side cumulative sum over
    # the query's centroid ranking replaces the per-doubling-level
    # count jobs this loop used to issue (r4 verdict blemish #2): the
    # pool size at ANY nprobe is the prefix sum of per-cell counts in
    # rank order, and per-cell counts are k_clusters rows.
    router = _IvfRouter(index.centroids)
    ranked = router.ranker(qv, metric)(len(index.centroids))
    per_cell = {
        r["centroid_id"]: r["n"]
        for r in _apply_pred(index.assigned, predicate)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    cum, cum_at = 0, {}
    for i, (c,) in enumerate(ranked, start=1):
        cum += per_cell.get(c, 0)
        cum_at[i] = cum

    target = int(rescore_factor) * k
    nprobe_eff = _choose_probe_level(
        lambda n: cum_at[n], router.levels(nprobe), target
    )
    widened = [
        r[0]
        for r in index.search(qv, k=k, nprobe=nprobe_eff, metric=metric,
                              predicate=predicate).collect()
    ]
    return spark.createDataFrame(
        [
            (
                k,
                filtered.count(),
                target,
                int(nprobe),
                float(recall_at_k(exact, fixed)),
                int(nprobe_eff),
                float(recall_at_k(exact, widened)),
            )
        ],
        "k INT, n_matching BIGINT, min_candidates INT, nprobe_fixed INT, "
        "recall_fixed DOUBLE, nprobe_widened INT, recall_widened DOUBLE",
    )


# --------------------------------------------------------------------------
# Batched ANN probe: a whole DataFrame of queries through ONE pruned scan
# --------------------------------------------------------------------------


def _collect_query_vectors(
    queries: DataFrame, query_id_col: str, query_vec_col: str
) -> list[tuple]:
    """Driver-side snapshot of the query batch as (id, float-list) pairs.
    The batch is small by construction — the same assumption under which
    ``knn.batch_knn`` broadcasts it; a query set too large to collect is
    a similarity JOIN (operators.dedup) or a block GEMM
    (``knn.block_batch_knn``), not a probe batch."""
    return [
        (r[0], [float(x) for x in r[1]])
        for r in queries.select(query_id_col, query_vec_col).collect()
    ]


def _membership_df(
    queries: DataFrame,
    query_id_col: str,
    rows: list[tuple],
    cell_fields: list[str],
    extra_fields: Sequence = (),
):
    """(query_id, *cell columns, _qv, *extra_fields) broadcast side for
    the batched probe: which queries probe which cells, with the query
    vector (and any codec columns) riding along so scoring needs no
    second join. Size is Q × nprobe rows — driver/broadcast scale by
    construction."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(query_id_col, queries.schema[query_id_col].dataType),
            *[StructField(c, IntegerType()) for c in cell_fields],
            StructField("_qv", ArrayType(DoubleType())),
            *extra_fields,
        ]
    )
    return queries.sparkSession.createDataFrame(rows, schema)


def _batch_topk(
    scored: DataFrame,
    k: int,
    query_id_col: str,
    id_col: str,
    score_col: str,
    rank_col: str,
) -> DataFrame:
    """Per-query top-k cut, the same two-stage JVM shape as
    ``knn.batch_knn``: ``row_number() <= k`` triggers Catalyst's
    InferWindowGroupLimit rewrite, so each scan task keeps only its k
    best rows per query (Partial WindowGroupLimit) before the keyed
    exchange — the scored candidate set never shuffles in full."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def _batch_coarse_rescore(
    coarse: DataFrame,
    score: Column,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    rescore: int,
    metric: str,
    query_id_col: str,
    query_vec_col: str,
    id_col: str,
    vector_col: str,
    score_col: str = "score",
    rank_col: str = "rank",
) -> DataFrame:
    """Batch tail, the twin of :func:`_coarse_rescore`: per query the top
    ``rescore·k`` ids of ``coarse`` (query_id, id, …) by the codec's
    ``score`` (Partial WindowGroupLimit), the (query_id, id) pool
    broadcast into the float relation, the query vector re-attached,
    exact per-query top-k — exact over each query's pool."""
    scored = coarse.select(
        F.col(query_id_col), F.col(id_col), score.alias("_coarse")
    )
    pool = _batch_topk(
        scored, int(rescore) * k, query_id_col, id_col, "_coarse", "_crank"
    ).select(query_id_col, id_col)
    exact = (
        embeddings.join(F.broadcast(pool), on=id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            on=query_id_col,
        )
        .select(
            F.col(query_id_col),
            F.col(id_col),
            distance(vector_col, query_vec_col, metric).alias(score_col),
        )
    )
    return _batch_topk(exact, k, query_id_col, id_col, score_col, rank_col)


def ivf_batch_search_parquet(
    spark: SparkSession,
    path: str,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Batched probe against the persisted centroid-partitioned store:
    the union-of-cells IN filter becomes Parquet PARTITION pruning, so
    the whole batch reads at most ``|union cells|/k_clusters`` of the
    directory tree once — not per query. Shape: centroids ranked per
    query driver-side, a broadcast (query_id, centroid_id, query_vec)
    membership join, distances in whole-stage codegen and the
    ``knn.batch_knn`` Partial WindowGroupLimit cut — zero Python nodes
    (plan-asserted in tests/test_batch_ann.py). ``kwargs`` are those of
    :meth:`VectorStore.batch_search`."""
    return VectorStore(
        spark.read.parquet(path), _IvfRouter(centroids), id_col=id_col,
        vector_col=vector_col,
    ).batch_search(queries, **kwargs)


def ivf_batch_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_clusters: int = 16,
    nprobe: int = 4,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    cache_key: object | None = None,
    **build_kwargs,
) -> DataFrame:
    """One-row quality report for the batched probe: per-query recall@k
    of :meth:`IvfIndex.batch_search` vs exact ``knn.batch_knn`` ground truth
    on the same corpus, reported as mean and min over the batch (the
    min exposes the worst-served query, which a mean alone hides)."""
    from ydb_vector_search_demo_spark.operators.knn import batch_knn

    def _by_query(rows) -> dict:
        out: dict = {}
        for r in rows:
            out.setdefault(r[0], []).append(r[1])
        return out

    exact = _by_query(
        batch_knn(
            queries, embeddings, k=k, metric=metric,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        .select(query_id_col, "vec_id")
        .collect()
    )
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key, **build_kwargs
    )
    approx = _by_query(
        index.batch_search(
            queries, k=k, nprobe=nprobe, metric=metric,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        .select(query_id_col, "vec_id")
        .collect()
    )
    recalls = [
        recall_at_k(exact.get(q, []), approx.get(q, [])) for q in exact
    ]
    mean_r = sum(recalls) / len(recalls) if recalls else 1.0
    return spark.createDataFrame(
        [
            (
                len(recalls),
                k,
                k_clusters,
                int(nprobe),
                round(float(mean_r), 6),
                round(float(min(recalls)) if recalls else 1.0, 6),
            )
        ],
        "n_queries INT, k INT, k_clusters INT, nprobe INT, "
        "mean_recall DOUBLE, min_recall DOUBLE",
    )


def brp_lsh_neighbors(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int = 5,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxNearestNeighbors (the
    Euclidean-metric ANN alternative; SURVEY.md §2.2 V4)."""
    from pyspark.ml.linalg import Vectors

    feats = embeddings.withColumn(
        "features", array_to_vector(F.col(vector_col).cast("array<double>"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(feats)
    key = Vectors.dense([float(x) for x in query_vector])
    return (
        model.approxNearestNeighbors(feats, key, k)
        .select(id_col, F.col("distCol").alias("score"))
    )


def pinned_split_planes(
    dim: int, n_planes: int, seed: str = "graph-split-v1"
) -> list[list[float]]:
    """Deterministic md5-derived secondary hyperplanes for the
    heavy-tail bucket split (Charikar SimHash planes without an RNG —
    the repo's pinned-determinization pattern): component d of plane p
    is md5(seed:p:d) mapped uniformly into [-1, 1). Same inputs, same
    planes, every run and every engine."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:8], 16
            )
            / 2.0**32
            * 2.0
            - 1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def split_sign_code(vec: Column, planes: list[list[float]]) -> Column:
    """Fold the sign bits of ``vec`` against each pinned plane into one
    integer code, plane 0 at the MSB (the repo's sign-fold
    convention). Pure Column arithmetic over plane literals."""
    from ydb_vector_search_demo_spark.functions.vector import dot

    code: Column = F.lit(0).cast("bigint")
    for p in planes:
        bit = F.when(
            dot(vec, vector_literal([float(x) for x in p])) > 0, F.lit(1)
        ).otherwise(F.lit(0))
        code = code * 2 + bit
    return code


def knn_graph_bucketed(
    embeddings: DataFrame,
    bucket_col: str,
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    sources: DataFrame | None = None,
    keep_bucket: bool = False,
    n_salt: int = 16,
    max_bucket: int | None = None,
    split_bits: int = 4,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate kNN GRAPH over the corpus — every node's top-``k``
    neighbors WITHIN its bucket, the primitive graph-based clustering,
    SemDeDup-style curation, and label-propagation pipelines consume.
    All-pairs exact is n² and dead at scale; bucketing (an IVF cell id
    from ``ivf_assign``, a label, a tenant — any pre-partitioned
    locality key) bounds the self-join to n²/B work per bucket, and
    the per-source cut is the Partial-WindowGroupLimit shape, so the
    scored within-bucket product never shuffles in full.

    ``sources`` restricts the query side (e.g. only new documents
    against the whole bucket); neighbors always come from the full
    ``embeddings``. Self-edges are excluded. Output: (src, dst, score,
    rank) — rank 1 is the nearest neighbor. With one global bucket
    this IS the exact kNN graph (equality-tested vs per-query exact
    KNN); with IVF cells it inherits the probe-1 recall profile,
    measurable via recall_at_k like every other approximate path.

    Skew: sign-code/LSH buckets are heavy-tailed by construction (the
    pinned 8-plane code puts ~74% of the stub corpus in 2 of 164
    buckets). In the SHUFFLE-join regime (corpus too big to broadcast
    — the 100 TB case) an unsalted bucket join hands each hot bucket's
    entire n²/B pair block to ONE reduce task, so the self-join goes
    through :func:`operators.skew.salted_join` (result-invisible by
    its equality law): the src side salts on ``src``, the neighbor
    side replicates ``n_salt`` ways, spreading a hot bucket's pairs
    over ``n_salt`` tasks at the price of an ``n_salt``× replication
    of the neighbor relation through the shuffle. In the BROADCAST
    regime (small corpus — every local test SF) there is no reduce
    task to skew and the salt is pure replication overhead, measured
    ~+20% at sf0.1; it is kept on by default because the default
    design target is the shuffle regime, and the build is
    session-cached where it is benched. Pass ``n_salt=0`` for provably
    balanced buckets or broadcast-size corpora.

    For cosine, each side's L2 norm is computed once per ROW before
    the join (same fold, same multiply order — per-pair scores
    bit-identical, equality-verified at sf0.1), not once per PAIR:
    hoisting the norms out of the n²/B pair loop cut the measured
    sf0.1 build 2.7× (23 s → 8.5 s; the remaining cost is
    materializing the 1.1 M scored pairs themselves).

    Heavy-tail cap (``max_bucket``): sign-code buckets concentrate
    pair cost super-linearly — the r8 profile put ~74% of rows in
    2/164 buckets, i.e. 2 cells paid ~1.1 M of the pairs. With
    ``max_bucket=m`` set, any bucket larger than m is SPLIT by
    ceil(log2(n/m)) extra sign bits (capped at ``split_bits``) from a
    pinned md5-derived secondary hyperplane set (Charikar SimHash
    planes, the repo's pinned-determinization pattern — no RNG, same
    split every run), and neighbors are confined to the sub-bucket:
    a bucket of n rows drops from n² pairs toward n²/2^bits at the
    price of boundary recall inside that cell only. Buckets at or
    under the cap keep bit-identical output to ``max_bucket=None``:
    their sub-code is 0 bits, and the split set is derived from the
    NEIGHBOR side, so src rows of an under-cap bucket never split
    either. The size census is one keyed count (output bounded by
    #buckets, broadcast back); the secondary code is per-row map work.

    Measured at sf0.1 on the pinned 8-plane sign code (2,000 vectors,
    hot buckets ~740 rows; same-host interleaved A/B, BASELINE r9):
    build min 10.9 → 4.3 s at ``max_bucket=200`` (2 effective bits in
    the hot cells), edge count unchanged; graph recall@4 vs the exact
    graph 0.39 → 0.15 (0.24 at ``max_bucket=400``/1 bit — each random
    secondary plane cuts roughly half of a node's true neighbors on
    this un-clustered corpus). Note the cap's recall CANNOT be bought
    back by :func:`nn_descent`: the capped graph is exact WITHIN each
    sub-bucket, so neighbor-of-neighbor candidates never leave the
    sub-bucket (measured: 0 edges changed in 3 rounds) — recovering
    cross-cell neighbors needs cross-cell CANDIDATES, which is what
    ``probe_hamming=1`` provides: the src side also probes every
    sub-code at Hamming distance 1 on its bucket's kept bits (the
    :func:`knn_graph_multiprobe` idea applied to the split), so a true
    neighbor survives unless ≥2 secondary planes separate the pair.
    Candidates multiply by ≤ bits+1 over the capped base — still
    (bits+1)/2^bits of the UNCAPPED hot-cell pairs, a saving that
    GROWS with the cell. Measured ladder (same A/B): cap200+probe1
    recall 0.335 / 8.2 s, cap100+probe1 0.264 / 5.5 s, cap200 bare
    0.154 / 4.6 s vs uncapped 0.391 / 9.2 s. Pick by workload: bare
    cap where build cost dominates and within-cell neighborhoods
    suffice (SemDeDup curation, beam entry fanout); +probe where graph
    recall is closer to the product."""
    from pyspark.sql import Window

    from ydb_vector_search_demo_spark.functions.vector import (
        METRICS,
        distance,
        dot,
        l2_norm,
    )
    from ydb_vector_search_demo_spark.operators import skew as SKW

    if metric not in METRICS:
        raise ValueError(
            f"unknown metric {metric!r}; one of {sorted(METRICS)}"
        )
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    hoist_norms = metric == "cosine"
    # fan_out the PROBE side: the n²/B pair scoring happens in the
    # probe side's partitions (the neighbor side broadcasts at test
    # scale), so a single-file corpus scan otherwise serializes the
    # whole build on one core (measured r14: 3.1 s → 1.0 s at sf0.1,
    # identical edges). No-op at real scale (the scan already splits).
    src = fan_out(sources if sources is not None else embeddings)
    a = src.select(
        F.col(bucket_col).alias("_bk"),
        F.col(id_col).alias("src"),
        F.col(vector_col).alias("_va"),
        *([l2_norm(vector_col).alias("_na")] if hoist_norms else []),
    )
    b = embeddings.select(
        F.col(bucket_col).alias("_bk"),
        F.col(id_col).alias("dst"),
        F.col(vector_col).alias("_vb"),
        *([l2_norm(vector_col).alias("_nb")] if hoist_norms else []),
    )
    if hoist_norms:
        # identical arithmetic to functions.vector.cosine_distance,
        # with the per-row norms reused across the row's pairs
        score_col = F.lit(1.0) - F.try_divide(
            dot(F.col("_va"), F.col("_vb")),
            F.col("_na") * F.col("_nb"),
        )
    else:
        score_col = distance("_va", "_vb", metric)
    join_keys = ["_bk"]
    if max_bucket:
        # one-row action: plane literals need the vector dimension.
        # first() is None on an EMPTY corpus — then no bucket can
        # exceed the cap, so fall through to the unsplit path (the
        # result is empty either way) instead of raising TypeError.
        dim_row = embeddings.select(
            F.size(F.col(vector_col)).alias("d")
        ).first()
        if dim_row is None or dim_row["d"] is None:
            max_bucket = None
    if max_bucket:
        planes = pinned_split_planes(dim_row["d"], split_bits)
        # size census over the NEIGHBOR side (one keyed count, output
        # bounded by the number of buckets, broadcast back)
        plan = (
            embeddings.groupBy(F.col(bucket_col).alias("_bk"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .select(
                "_bk",
                F.least(
                    F.lit(split_bits),
                    F.greatest(
                        F.lit(0),
                        F.ceil(
                            F.log2(F.col("_n") / F.lit(float(max_bucket)))
                        ),
                    ),
                )
                .cast("int")
                .alias("_bits"),
            )
        )

        def with_sub(side: DataFrame, vcol: str) -> DataFrame:
            # full split_bits-bit secondary code, then keep only the
            # TOP _bits bits for this row's bucket (0 bits -> sub 0:
            # under-cap buckets are bit-identical to max_bucket=None)
            code = split_sign_code(F.col(vcol), planes)
            return side.join(F.broadcast(plan), "_bk").withColumn(
                "_sb",
                F.floor(
                    code
                    / F.pow(
                        F.lit(2.0),
                        F.lit(split_bits) - F.col("_bits"),
                    )
                ).cast("bigint"),
            )

        a = with_sub(a, "_va")
        b = with_sub(b, "_vb").drop("_bits")
        if probe_hamming:
            # multiprobe across the split boundary: the SRC side also
            # probes every sub-code at Hamming distance 1 on its
            # bucket's KEPT bits (flips of unkept bits would address
            # cells that don't exist). Candidates multiply by at most
            # (_bits + 1) — the bounded price of cross-cell recall;
            # the neighbor side stays in its own cell, so the capped
            # state bound per join task is unchanged.
            assert probe_hamming == 1, "only Hamming<=1 probing is implemented"
            probes = F.array_append(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(split_bits - 1)),
                        lambda j: F.when(
                            j < F.col("_bits"),
                            F.col("_sb").bitwiseXOR(
                                # 2^j as a Column (shiftleft needs a
                                # literal shift amount; j is a Column)
                                F.pow(F.lit(2.0), j).cast("bigint")
                            ),
                        ),
                    ),
                    lambda v: v.isNotNull(),
                ),
                F.col("_sb"),
            )
            a = a.withColumn("_sb", F.explode(probes))
        a = a.drop("_bits")
        join_keys = ["_bk", "_sb"]
    joined = (
        SKW.salted_join(a, b, on=join_keys, salt_by="src", n_salt=n_salt)
        if n_salt
        else a.join(b, on=join_keys)
    )
    scored = joined.filter(F.col("src") != F.col("dst")).select(
        *(["_bk"] if keep_bucket else []),
        "src",
        "dst",
        score_col.alias("score"),
    )
    w = Window.partitionBy("src").orderBy(
        F.col("score").asc_nulls_last(), F.col("dst").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mutual_knn_clusters(
    embeddings: DataFrame,
    bucket_col: str | None = None,
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    *,
    graph: DataFrame | None = None,
    nprobe: int = 2,
    refine_iters: int = 0,
    k_clusters: int = 16,
    cache_key: object | None = None,
    index: "IvfIndex | None" = None,
) -> DataFrame:
    """Mutual-kNN clustering — the classic density-robust pipeline
    built entirely from this module's primitives: an approximate kNN
    graph, keep only MUTUAL edges (u in v's top-k AND v in u's top-k —
    the standard asymmetry filter that stops hub nodes gluing unrelated
    regions together), connected components over the surviving edges.
    Output matches the dedup cluster contract: (id, cluster_id,
    cluster_size, is_canonical) for every embedding, singletons
    included.

    Graph source (r5 verdict task #6 — the default is the REPAIRED
    graph, not the single-probe one whose own recall report shows a
    0.0-min boundary hole):

    * ``graph=...`` — any caller-built (src, dst[, score]) edge list
      (e.g. an :func:`nn_descent`-refined graph);
    * ``bucket_col='label'`` — the label-bucketed graph
      (:func:`knn_graph_bucketed`), for corpora with a trusted
      partition key; edges are bucket-local, so components run
      bucket-wise in one shuffle;
    * neither (default) — :func:`knn_graph_multiprobe` over the cached
      IVF assignment (every source probes its ``nprobe`` nearest
      cells, so boundary nodes see across their cell), refined by
      ``refine_iters`` rounds of :func:`nn_descent` when > 0 — the
      corpus-scale recipe: multiprobe repairs the boundary hole at
      nprobe·n²/B join cost, NN-descent then converges recall toward
      1.0 with edge-list-sized passes that never touch n².

    Scale shape: each graph is n²/B-ish with a WindowGroupLimit cut
    (never all-pairs); the mutual filter is a self-join of the
    (≤ n·k)-row edge list on the reversed key; components run
    bucket-wise when edges are bucket-local, and by the
    large-star/small-star O(log n)-round method when they cross cells
    (multi-probe/refined edges do, by design)."""
    from ydb_vector_search_demo_spark.operators.curation import (
        dedup_clusters,
        dedup_clusters_bucketed,
    )

    if graph is None and bucket_col is not None:
        g = knn_graph_bucketed(
            embeddings, bucket_col, k=k, metric=metric,
            id_col=id_col, vector_col=vector_col, keep_bucket=True,
        ).select("_bk", "src", "dst")
        rev = g.select(
            "_bk", F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        mutual = g.intersect(rev).filter(F.col("src") < F.col("dst"))
        pairs = mutual.select(
            F.col("_bk").alias("centroid_id"),
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
        )
        return dedup_clusters_bucketed(
            embeddings.select(F.col(id_col)), pairs, id_col=id_col
        )

    if graph is None:
        graph = knn_graph_multiprobe(
            embeddings, k=k, nprobe=nprobe, k_clusters=k_clusters,
            metric=metric, id_col=id_col, vector_col=vector_col,
            cache_key=cache_key, index=index,
        )
        if refine_iters > 0:
            graph = nn_descent(
                embeddings, graph.select("src", "dst", "score"), k=k,
                iters=refine_iters, metric=metric,
                id_col=id_col, vector_col=vector_col, trust_scores=True,
            )
    edges = graph.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = edges.intersect(rev).filter(F.col("src") < F.col("dst"))
    pairs = mutual.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return dedup_clusters(embeddings.select(F.col(id_col)), pairs, id_col=id_col)


def _exact_neighbor_lists(
    embeddings: DataFrame,
    src_rows: list,
    k: int,
    metric: str,
    id_col: str,
    vector_col: str,
) -> dict:
    """Exact kNN-minus-self for a bounded set of sampled sources in ONE
    ``batch_knn`` pass (one corpus scan for the whole sample — the
    single-pass discipline of ``filtered_recall``; previously one
    knn_scores job per source). Asks for k+1 and drops the self row
    afterward: removing one element of a (score asc, id asc) ranking
    preserves the relative order of the rest, so the result is
    row-identical to scoring each source against ``embeddings.filter(id
    != src)`` separately. Returns {src_id: [neighbor ids, best first]}."""
    from ydb_vector_search_demo_spark.operators.knn import batch_knn

    spark = embeddings.sparkSession
    qdf = spark.createDataFrame(
        [(r[0], [float(v) for v in r[1]]) for r in src_rows],
        ["query_id", "query_vec"],
    )
    rows = batch_knn(
        qdf, embeddings, k=int(k) + 1, metric=metric,
        id_col=id_col, vector_col=vector_col,
    ).collect()
    per: dict = {r[0]: [] for r in src_rows}
    for r in sorted(rows, key=lambda x: (x["query_id"], x["rank"])):
        if r[id_col] != r["query_id"]:
            per[r["query_id"]].append(r[id_col])
    return {qid: ids[: int(k)] for qid, ids in per.items()}


def knn_graph_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 5,
    k_clusters: int = 16,
    n_sources: int = 20,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cache_key: object | None = None,
) -> DataFrame:
    """One-row quality report for the IVF-cell kNN graph: per-source
    recall@k of :func:`knn_graph_bucketed` over the cell assignment vs
    the exact graph (per-source exact KNN minus self), mean and min
    over ``n_sources`` deterministic sample sources (lowest ids). The
    cell-bucketed graph pays n²/B work instead of n² and this report
    prices that trade — the same honest-reporting contract as
    ivf_batch_recall / mrl_recall (the min exposes the worst-served
    node a mean hides; a node near a cell boundary loses the neighbors
    that sit across it)."""
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key,
        id_col=id_col, vector_col=vector_col,
    )
    srcs = (
        embeddings.select(id_col, vector_col)
        .orderBy(F.col(id_col).asc())
        .limit(int(n_sources))
    )
    src_rows = srcs.collect()
    src_ids = {r[0] for r in src_rows}
    graph = knn_graph_bucketed(
        index.assigned, "centroid_id", k=k, metric=metric,
        id_col=id_col, vector_col=vector_col,
        sources=index.assigned.filter(F.col(id_col).isin(sorted(src_ids))),
    ).collect()
    approx: dict = {}
    for r in graph:
        approx.setdefault(r["src"], []).append(r["dst"])
    exact = _exact_neighbor_lists(
        embeddings, src_rows, k, metric, id_col, vector_col
    )
    recalls = [
        recall_at_k(exact[r[0]], approx.get(r[0], [])) for r in src_rows
    ]
    return spark.createDataFrame(
        [
            (
                int(len(src_rows)),
                k,
                int(k_clusters),
                float(sum(recalls) / len(recalls)),
                float(min(recalls)),
            )
        ],
        "n_sources INT, k INT, k_clusters INT, mean_recall DOUBLE, "
        "min_recall DOUBLE",
    )


def ivf_assign_multiprobe(
    centroids: list[list[float]],
    vectors: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Route every vector to its ``nprobe`` nearest (Euclidean) cells —
    the multi-probe generalization of :func:`ivf_assign`, one output
    row per (vector, probed cell) with ``probe_rank`` 0-based. Pure
    map-side Column arithmetic over the centroid plan literal (the
    per-cell distances are computed once, sorted as (d, i) structs for
    a deterministic tie-break, sliced to ``nprobe``, exploded); no
    shuffle, no MLlib model object."""
    scored = F.transform(
        _sq_dists(F.col(vector_col).cast("array<double>"), _codebook(centroids)),
        lambda d, i: F.struct(d.alias("d"), i.alias("i")),
    )
    top = F.slice(F.array_sort(scored), 1, int(nprobe))
    return (
        vectors.select(
            F.col(id_col),
            F.col(vector_col),
            F.posexplode(top).alias("probe_rank", "_s"),
        )
        .select(
            F.col(id_col),
            F.col(vector_col),
            F.col("probe_rank").cast("int"),
            F.col("_s.i").cast("int").alias("centroid_id"),
        )
    )


def knn_graph_multiprobe(
    embeddings: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    k_clusters: int = 16,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    index: IvfIndex | None = None,
    sources: DataFrame | None = None,
    cache_key: object | None = None,
) -> DataFrame:
    """Cell-boundary repair for the bucketed kNN graph: each SOURCE
    probes its ``nprobe`` nearest cells while neighbors come from each
    cell's resident (primary-assignment) population, so a node sitting
    on a cell boundary sees across it. Work is nprobe·n²/B instead of
    n²/B; each (src, dst) pair appears at most once by construction
    (dst lives in exactly one primary cell, probed cells are distinct),
    so no dedup pass is needed before the per-source
    Partial-WindowGroupLimit cut.

    Laws (tests/test_nn_descent.py): recall is monotone in ``nprobe``
    (probed-cell sets are nested), and nprobe = k_clusters degenerates
    to the exact kNN graph."""
    from pyspark.sql import Window

    idx = index if index is not None else get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key,
        id_col=id_col, vector_col=vector_col,
    )
    src_base = sources if sources is not None else embeddings
    a = ivf_assign_multiprobe(
        idx.centroids, src_base.select(id_col, vector_col), nprobe,
        id_col=id_col, vector_col=vector_col,
    ).select(
        F.col("centroid_id").alias("_bk"),
        F.col(id_col).alias("src"),
        F.col(vector_col).alias("_va"),
    )
    b = idx.assigned.select(
        F.col("centroid_id").alias("_bk"),
        F.col(id_col).alias("dst"),
        F.col(vector_col).alias("_vb"),
    )
    scored = (
        a.join(b, on="_bk")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", distance("_va", "_vb", metric).alias("score"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("score").asc_nulls_last(), F.col("dst").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def nn_descent(
    embeddings: DataFrame,
    graph: DataFrame,
    k: int = 5,
    iters: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    trust_scores: bool = False,
) -> DataFrame:
    """NN-descent refinement (Dong et al., WWW 2011): iteratively
    improve an approximate kNN graph by scoring each node against its
    neighbors' neighbors — "a neighbor of a neighbor is likely a
    neighbor" — and keeping the best k. Takes ANY initial (src, dst[,
    score]) graph (a cell-bucketed or multi-probe graph from this
    module, an LSH candidate graph, a random graph) and returns the
    refined (src, dst, score, rank).

    Scale shape per iteration: candidate generation joins the
    UNDIRECTED edge list (2·n·k rows) with itself on the shared node —
    at most (2k)² candidates per node and the corpus itself never
    enters that join; embeddings attach to the candidate pairs by two
    hash joins keyed on id; the merge + top-k cut is one keyed window
    (Partial WindowGroupLimit below the exchange, same shape as
    batch_knn). Each round is materialized (persist + count) so the
    iterated plan never grows — the standard Spark discipline for
    iterative algorithms.

    Init scores: new candidates are always scored under ``metric``, so
    a caller-provided ``score`` column is only comparable if it was
    computed under the SAME metric — merging, say, a cosine-scored init
    into a Euclidean descent would silently produce a wrong top-k. The
    init's scores are therefore recomputed from the embeddings by
    default; pass ``trust_scores=True`` to skip that pass when the init
    graph's scores are known to match ``metric`` (e.g. a
    :func:`knn_graph_multiprobe` graph built with the same metric).

    Laws (tests/test_nn_descent.py): the EXACT graph is a fixed point
    (candidates can't beat the true top-k), and recall vs the exact
    graph is non-decreasing in iterations on the corpora tested."""
    from pyspark.sql import Window

    emb_a = embeddings.select(F.col(id_col).alias("src"), F.col(vector_col).alias("_va"))
    emb_b = embeddings.select(F.col(id_col).alias("dst"), F.col(vector_col).alias("_vb"))
    has_score = trust_scores and "score" in graph.columns
    cur = (
        graph.select("src", "dst", "score")
        if has_score
        else graph.join(emb_a, on="src").join(emb_b, on="dst").select(
            "src", "dst", distance("_va", "_vb", metric).alias("score")
        )
    ).persist()
    cur.count()
    w = Window.partitionBy("src").orderBy(
        F.col("score").asc_nulls_last(), F.col("dst").asc()
    )
    for _ in range(int(iters)):
        und = cur.select("src", "dst").union(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        x = und.select(F.col("src").alias("_xs"), F.col("dst").alias("_xd"))
        y = und.select(F.col("src").alias("_ys"), F.col("dst").alias("_yd"))
        cand = (
            x.join(y, x["_xd"] == y["_ys"])
            .select(F.col("_xs").alias("src"), F.col("_yd").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        scored = (
            cand.join(emb_a, on="src")
            .join(emb_b, on="dst")
            .select(
                "src", "dst",
                distance("_va", "_vb", metric).alias("score"),
            )
        )
        merged = cur.unionByName(scored).dropDuplicates(["src", "dst"])
        nxt = (
            merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .drop("rank")
            .persist()
        )
        nxt.count()  # materialize before dropping the previous round
        cur.unpersist()
        cur = nxt
    # Truncate the iterative lineage and release the last round's
    # pinned storage before returning: a plain `return cur...` would
    # leave cur persisted for the rest of the session (callers can't
    # unpersist what they can't see), while unpersisting cur without
    # the checkpoint would make the caller's first action replay every
    # round. localCheckpoint blocks are dropped by the ContextCleaner
    # once the returned DataFrame is garbage collected — no manual
    # release hook needed. (The edge list is n·k rows; for a
    # fault-tolerant handoff at cluster scale, write it to parquet.)
    out = (
        cur.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .localCheckpoint(eager=True)
    )
    cur.unpersist()
    return out


def knn_graph_improvement_report(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 5,
    k_clusters: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    n_sources: int = 20,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cache_key: object | None = None,
) -> DataFrame:
    """The priced ladder for approximate kNN-graph construction: mean
    and min per-source recall@k vs the exact graph for (a) the
    single-cell bucketed graph, (b) the multi-probe graph, (c) the
    multi-probe graph refined by NN-descent — one row per variant,
    same deterministic sample sources as knn_graph_recall. This is the
    repair ladder for the honest recall hole that report exposes
    (boundary nodes score 0 with one probe); each rung buys recall at
    a bounded extra cost (nprobe× the join work; iters extra
    edge-list passes)."""
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key,
        id_col=id_col, vector_col=vector_col,
    )
    srcs = (
        embeddings.select(id_col, vector_col)
        .orderBy(F.col(id_col).asc())
        .limit(int(n_sources))
    )
    src_rows = srcs.collect()
    src_ids = sorted(r[0] for r in src_rows)
    sources = index.assigned.filter(F.col(id_col).isin(src_ids))
    exact = _exact_neighbor_lists(
        embeddings, src_rows, k, metric, id_col, vector_col
    )

    def stats(graph_rows) -> tuple[float, float]:
        approx: dict = {}
        for g in graph_rows:
            approx.setdefault(g["src"], []).append(g["dst"])
        recalls = [
            recall_at_k(exact[i], approx.get(i, [])) for i in exact
        ]
        return float(sum(recalls) / len(recalls)), float(min(recalls))

    cell = knn_graph_bucketed(
        index.assigned, "centroid_id", k=k, metric=metric,
        id_col=id_col, vector_col=vector_col, sources=sources,
    ).collect()
    multi_df = knn_graph_multiprobe(
        embeddings, k=k, nprobe=nprobe, metric=metric, id_col=id_col,
        vector_col=vector_col, index=index,
        sources=embeddings.filter(F.col(id_col).isin(src_ids)),
    )
    multi = multi_df.collect()
    # refine the FULL multi-probe graph (descent needs the whole edge
    # list — neighbors-of-neighbors pass through non-source nodes),
    # then report the sampled sources from it
    full_multi = knn_graph_multiprobe(
        embeddings, k=k, nprobe=nprobe, metric=metric, id_col=id_col,
        vector_col=vector_col, index=index,
    )
    refined = (
        nn_descent(
            embeddings, full_multi.select("src", "dst", "score"), k=k,
            iters=iters, metric=metric, id_col=id_col, vector_col=vector_col,
            # the multi-probe graph above was scored under this same
            # metric, so its scores are safe to merge without a rescore
            trust_scores=True,
        )
        .filter(F.col("src").isin(src_ids))
        .collect()
    )
    rows = []
    for variant, g in (
        (f"cell(k_clusters={k_clusters})", cell),
        (f"multiprobe(nprobe={nprobe})", multi),
        (f"nn_descent(iters={iters})", refined),
    ):
        mean_r, min_r = stats(g)
        rows.append((variant, int(len(exact)), k, mean_r, min_r))
    return spark.createDataFrame(
        rows,
        "variant STRING, n_sources INT, k INT, mean_recall DOUBLE, "
        "min_recall DOUBLE",
    )


def graph_search_visited(
    graph: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    entry_ids: Sequence[int],
    beam: int = 8,
    rounds: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    checkpoint: bool = True,
) -> DataFrame:
    """Synchronous beam search over a kNN graph — the full VISITED set.

    The query-time half of the graph-ANN family (the HNSW/NSG serving
    idea re-expressed as bounded dataflow): start from fixed entry
    nodes, then for ``rounds`` synchronous hops expand the per-query
    frontier along graph edges, score the newly reached nodes against
    the query, and keep the ``beam`` best new nodes as the next
    frontier. Returns every (query_id, vec_id, score) ever scored;
    :func:`graph_search` applies the final top-k cut.

    Scale shape (the reason this is NOT a driver-side traversal): the
    frontier, candidate and visited sets are all bounded by
    Q x beam x degree x rounds — broadcast-sized by construction — so
    every join here broadcasts the SMALL side and the two big tables
    (the edge list and the vector store) are only ever the probe side
    of a broadcast-hash join: no shuffle of either, ever. Per round
    the big tables are each touched once; at 100 TB store both
    bucketed/sorted by id so the point-fetch joins prune files via
    min/max stats instead of scanning. ``rounds`` is the only
    sequential factor, exactly like the nprobe ladder prices IVF.

    Determinism contract (what the DuckDB oracle replays): candidate
    sets are exact-deduped, already-visited nodes are dropped before
    scoring, and every cut ranks by (score asc nulls last, id asc) —
    no RNG, no iteration-order dependence.

    Plan-shape contract (the r7 lesson — any loop that rebinds a
    DataFrame to an expression over its previous value must truncate
    lineage per round, the nn_descent pattern): the edge list is
    materialized ONCE up front and each round's scored hop is
    materialized with ``localCheckpoint(eager=True)`` before the next
    round references it. Without this the plan duplicates every prior
    round's subtree (round r embeds r copies of the graph build) and
    the executed plan grows exponentially in ``rounds`` — measured 57
    parquet scans / 75 Windows / 28.6 s at sf0.1 pre-fix vs an
    O(rounds)-scan plan post-fix. tests/test_graph_search.py pins the
    scan/Window node counts so the recompute can't regress silently.
    """
    from pyspark.sql import Window

    q = queries.select("query_id", "query_vec")
    emb = embeddings.select(
        F.col(id_col).alias("__gid"), F.col(vector_col).alias("__gv")
    )
    score = distance("__gv", "query_vec", metric)
    entries = emb.filter(F.col("__gid").isin([int(i) for i in entry_ids]))
    # Round 0 (the entry scoring) is checkpointed so `visited` starts
    # from a materialized leaf; each later round appends one more
    # checkpointed leaf, keeping `visited` a flat union of rounds+1
    # scans-of-nothing (checkpoint reads), never a recursive tree.
    scored0 = (
        entries.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("__gid").alias("vec_id"),
            score.alias("score"),
        )
    )
    if checkpoint:
        scored0 = scored0.localCheckpoint(eager=True)
    visited = scored0
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("vec_id").asc()
    )

    def beam_cut(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= int(beam))
            .select("query_id", "vec_id")
        )

    frontier = beam_cut(scored0)
    # One materialization of the edge list: callers usually hand us a
    # lazily-built graph (a bucketed self-join) — without this the
    # build would re-execute inside every round's candidate join.
    # ``checkpoint=False`` keeps the whole composition lazy — ONLY for
    # plan inspection (tests/test_plans.py asserts the broadcast-only
    # join shape on the un-truncated plan); never serve with it.
    edges = graph.select("src", "dst")
    if checkpoint:
        edges = edges.localCheckpoint(eager=True)
    for _ in range(int(rounds)):
        cand = (
            edges.join(
                F.broadcast(frontier), edges.src == frontier.vec_id
            )
            .select("query_id", F.col("dst").alias("vec_id"))
            .distinct()
            .join(
                F.broadcast(visited.select("query_id", "vec_id")),
                ["query_id", "vec_id"],
                "left_anti",
            )
        )
        scored = (
            emb.join(F.broadcast(cand), emb.__gid == cand.vec_id)
            .join(F.broadcast(q), "query_id")
            .select("query_id", "vec_id", score.alias("score"))
        )
        if checkpoint:
            # truncate lineage: one emb scan per round
            scored = scored.localCheckpoint(eager=True)
        visited = visited.unionByName(scored)
        frontier = beam_cut(scored)
    return visited


def graph_search(
    graph: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    entry_ids: Sequence[int],
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Top-k graph-ANN serving: beam search over a prebuilt kNN graph.

    Completes the serving matrix next to the IVF / tree
    :class:`VectorStore` probes and the LSH probes: same (query_id, vec_id,
    score, rank) contract as batch_knn, same (score, id) tie-break,
    score raw (callers round for display). The reference runs with its
    index disabled (app.py:37); this is the graph member of the index
    family it would enable. See :func:`graph_search_visited` for the
    dataflow and scale argument.
    """
    from pyspark.sql import Window

    visited = graph_search_visited(
        graph, embeddings, queries, entry_ids, beam=beam, rounds=rounds,
        metric=metric, id_col=id_col, vector_col=vector_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("vec_id").asc()
    )
    return (
        visited.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "vec_id", "score", F.col("rank").cast("int"))
    )


def graph_search_recall(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
    degree: int = 8,
    k_clusters: int = 8,
    nprobe: int = 2,
    n_queries: int = 20,
    n_entries: int = 4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cache_key: object | None = None,
) -> DataFrame:
    """Recall report for graph-ANN SERVING (not graph construction —
    that is knn_graph_recall's job): mean/min recall@k of
    :func:`graph_search` over the multi-probe kNN graph vs the exact
    answer, for ``n_queries`` deterministic sample queries (lowest
    ids, self-match excluded on both sides), plus the mean visited-set
    size — the honest price tag: recall bought per node scored, the
    graph analogue of the nprobe ladder. Exact baseline is ONE
    batch_knn pass via _exact_neighbor_lists."""
    qrows = (
        embeddings.select(id_col, vector_col)
        .orderBy(F.col(id_col).asc())
        .limit(int(n_queries))
        .collect()
    )
    queries = spark.createDataFrame(
        [(int(r[0]), [float(x) for x in r[1]]) for r in qrows],
        "query_id BIGINT, query_vec ARRAY<DOUBLE>",
    )
    index = get_or_build_ivf_index(
        embeddings, k_clusters=k_clusters, cache_key=cache_key,
        id_col=id_col, vector_col=vector_col,
    )
    graph = knn_graph_multiprobe(
        embeddings, k=degree, nprobe=nprobe, metric=metric,
        id_col=id_col, vector_col=vector_col, index=index,
    ).select("src", "dst")
    entry_ids = [int(r[0]) for r in qrows[: int(n_entries)]]
    visited = graph_search_visited(
        graph, embeddings, queries, entry_ids, beam=beam, rounds=rounds,
        metric=metric, id_col=id_col, vector_col=vector_col,
    ).collect()  # bounded: n_queries x (entries + beam*degree*rounds)
    exact = _exact_neighbor_lists(
        embeddings, qrows, k, metric, id_col, vector_col
    )
    per_q: dict[int, list[tuple[float, int]]] = {}
    n_visited: dict[int, int] = {}
    for r in visited:
        qid, vid = int(r["query_id"]), int(r["vec_id"])
        n_visited[qid] = n_visited.get(qid, 0) + 1
        if vid != qid:  # self-match excluded, as in the exact lists
            sc = r["score"]
            per_q.setdefault(qid, []).append(
                (float("inf") if sc is None else float(sc), vid)
            )
    recalls = []
    for r in qrows:
        qid = int(r[0])
        got = [v for _, v in sorted(per_q.get(qid, []))[: int(k)]]
        recalls.append(recall_at_k(exact[qid], got))
    mean_visited = float(sum(n_visited.values()) / max(len(n_visited), 1))
    return spark.createDataFrame(
        [
            (
                int(len(qrows)), k, int(beam), int(rounds), int(degree),
                float(sum(recalls) / len(recalls)), float(min(recalls)),
                mean_visited,
            )
        ],
        "n_queries INT, k INT, beam INT, rounds INT, degree INT, "
        "mean_recall DOUBLE, min_recall DOUBLE, mean_visited DOUBLE",
    )


def graph_append(
    graph_scored: DataFrame,
    embeddings: DataFrame,
    new_embeddings: DataFrame,
    entry_ids: Sequence[int],
    degree: int = 4,
    beam: int = 8,
    rounds: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Incremental kNN-graph maintenance — the graph member of the
    ingest family next to :func:`ivf_append` / :func:`write_store`
    (and the HNSW insert rule re-expressed as batch dataflow): each
    NEW vector finds its ``degree`` nearest reachable nodes by beam
    search against the FROZEN graph (one :func:`graph_search` for the
    whole batch), gains those as out-edges plus the reverse
    (bidirectional) links, and every adjacency list is re-pruned to
    the best ``degree`` edges by (score, dst) — a corpus node that
    gains a closer reverse neighbor drops its worst old edge.

    ``graph_scored`` must carry (src, dst, score) under the SAME
    metric (knn_graph_bucketed / multiprobe output); returns the full
    updated (src, dst, score, rank) edge list. One keyed shuffle (the
    re-prune window over the edge list) beyond the broadcast-only
    search — the same cost class as one graph-build round, amortized
    over the whole batch. Known batch-append semantics (documented,
    same contract as incremental_semantic_dedup): new nodes do not
    link to EACH OTHER — the batch searches the frozen pre-append
    graph; run consecutive batches (or a final refine pass via
    nn_descent) when intra-batch links matter."""
    from pyspark.sql import Window

    from ydb_vector_search_demo_spark.functions.vector import (
        to_double_array,
    )

    q = new_embeddings.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vector_col).alias("query_vec"),
    )
    found = graph_search(
        graph_scored.select("src", "dst"), embeddings, q, entry_ids,
        k=degree, beam=beam, rounds=rounds, metric=metric,
        id_col=id_col, vector_col=vector_col,
    )
    newe = found.select(
        F.col("query_id").alias("src"),
        F.col("vec_id").alias("dst"),
        "score",
    )
    rev = newe.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "score"
    )
    alle = (
        graph_scored.select("src", "dst", "score")
        .unionByName(newe)
        .unionByName(rev)
    )
    w = Window.partitionBy("src").orderBy(
        F.col("score").asc_nulls_last(), F.col("dst").asc()
    )
    return (
        alle.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(degree))
        .select("src", "dst", "score", F.col("rank").cast("int"))
    )


def write_graph_store(
    graph: DataFrame,
    vectors: DataFrame,
    path: str,
    n_buckets: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> None:
    """Persist a kNN graph for POINT-FETCH serving: adjacency under
    ``path``/edges partitioned by ``bucket = pmod(src, n_buckets)``
    and src-sorted within files, vectors under ``path``/vectors
    partitioned/sorted the same way by id. A beam-search hop touches
    O(frontier) ids, so the layout turns each hop into partition
    pruning (bucket literals) + row-group skipping (min/max stats on
    the sorted id) instead of a scan — at 100 TB this is the
    difference between reading a few megabytes per hop and reading
    the table. Callers pass the same ``n_buckets`` to
    :func:`graph_search_parquet` (the ivf-store convention: layout
    parameters travel with the caller, not a manifest)."""
    (
        graph.select("src", "dst")
        .withColumn("bucket", F.pmod(F.col("src"), F.lit(int(n_buckets))))
        .repartition("bucket")
        .sortWithinPartitions("src")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path + "/edges")
    )
    (
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vector_col).alias("embedding"),
        )
        .withColumn("bucket", F.pmod(F.col("vec_id"), F.lit(int(n_buckets))))
        .repartition("bucket")
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path + "/vectors")
    )


_GRAPH_STORE_CACHE: dict = {}


def get_or_write_graph_store(
    graph: DataFrame,
    vectors: DataFrame,
    cache_key: object,
    n_buckets: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> str:
    """Session-scoped graph-store build cache (the
    get_or_write_rotated_store / get_or_build_ivf_index contract): the
    two bucket-partitioned writes of :func:`write_graph_store` are
    paid once per (corpus, layout) key under a deterministic /tmp
    path; probes (:func:`graph_search_parquet`) reuse it. This is the
    build/probe split — the build is the periodic batch job, the
    graded serving row prices the steady-state probe (r7 verdict
    task: the pre-fix row rebuilt and rewrote the store on every
    execution, 29.3 s vs the probe's ~1 s)."""
    return _get_or_write(
        _GRAPH_STORE_CACHE, "ydbvs_graph_store",
        (cache_key, int(n_buckets), id_col, vector_col),
        lambda path: write_graph_store(
            graph, vectors, path, n_buckets=n_buckets, id_col=id_col,
            vector_col=vector_col,
        ),
    )


def clear_graph_store_cache() -> None:
    _evict(_GRAPH_STORE_CACHE)
    _evict(_KNN_GRAPH_EDGE_CACHE)


_KNN_GRAPH_EDGE_CACHE: dict = {}


def get_or_write_knn_graph_edges(
    embeddings: DataFrame,
    bucket_col: str,
    cache_key: object,
    k: int = 3,
    metric: str = "cosine",
) -> DataFrame:
    """Session-scoped kNN-graph EDGE build cache — the
    :func:`get_or_write_graph_store` contract applied to the graph
    ANALYTICS consumers (pagerank / label-prop / triangles / k-core):
    the :func:`knn_graph_bucketed` build (the dominant cost of every
    in-row graph analytics query — BASELINE r13 plan audit: 4.5-7.7 s
    rows, all build-dominated) is paid ONCE per (corpus, bucket_col,
    k, metric) key, its edges written src-sorted to a deterministic
    /tmp parquet path, and every subsequent analytics pass re-reads
    the materialized relation — in production the periodic batch
    graph build feeding many downstream analytics jobs. Iterating
    consumers still checkpoint once per query (reading parquet is
    cheap; re-planning it per power step is not). Returns the
    parquet-backed (src, dst, score, rank) relation."""
    spark = embeddings.sparkSession
    path = _get_or_write(
        _KNN_GRAPH_EDGE_CACHE, "ydbvs_knn_edges",
        (cache_key, bucket_col, int(k), metric),
        lambda path: knn_graph_bucketed(embeddings, bucket_col, k=k, metric=metric)
        .select("src", "dst", "score", "rank")
        .repartition(spark.sparkContext.defaultParallelism)
        .sortWithinPartitions("src")
        .write.mode("overwrite")
        .parquet(path),
    )
    return spark.read.parquet(path)


def _pruned_fetch(
    store: DataFrame, ids: Sequence[int], n_buckets: int, key_col: str
) -> DataFrame:
    """Point-fetch rows whose ``key_col`` is in ``ids`` from a
    bucket-partitioned store: the bucket set and the id set are both
    LITERALS (the serving loop collects the driver-bounded frontier),
    so the bucket predicate prunes partitions at planning time and
    the id predicate pushes into the parquet scan for row-group
    skipping on the sorted key — no join, no shuffle, no scan."""
    ids = sorted({int(i) for i in ids})
    buckets = sorted({i % int(n_buckets) for i in ids})
    return store.filter(
        F.col("bucket").isin(buckets) & F.col(key_col).isin(ids)
    )


def graph_search_parquet(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    entry_ids: Sequence[int],
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
    metric: str = "cosine",
    n_buckets: int = 16,
) -> DataFrame:
    """Graph-ANN serving from the persisted store
    (:func:`write_graph_store`) — identical results to
    :func:`graph_search` (equality-tested), different physical
    strategy: every hop collects the frontier's ids (driver-bounded
    Q x beam by the beam-search contract, the same boundedness that
    lets the in-memory variant broadcast) and re-reads ONLY the
    bucket partitions and row groups holding them via
    :func:`_pruned_fetch`. Per hop: one pruned edge fetch (frontier
    adjacency, collected — O(frontier x degree) rows), one pruned
    vector fetch scored map-side against the broadcast queries. The
    scored hops stay DataFrames; the final top-k cut is the usual
    per-query window."""
    from pyspark.sql import Window

    edges = spark.read.parquet(path + "/edges")
    vectors = spark.read.parquet(path + "/vectors")
    q = queries.select("query_id", "query_vec")
    qids = [r["query_id"] for r in q.select("query_id").collect()]
    score = distance("embedding", "query_vec", metric)

    def scored_fetch(per_query_ids: dict) -> DataFrame:
        """One pruned vector fetch for the union of ids, fanned back
        out to (query_id, vec_id, score) for exactly the requested
        (query, id) pairs."""
        all_ids = sorted({i for ids in per_query_ids.values() for i in ids})
        pairs = spark.createDataFrame(
            [(int(qi), int(vi)) for qi, ids in per_query_ids.items()
             for vi in ids],
            "query_id INT, vec_id BIGINT",
        )
        fetched = _pruned_fetch(vectors, all_ids, n_buckets, "vec_id")
        return (
            fetched.join(F.broadcast(pairs), "vec_id")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "vec_id", score.alias("score"))
        )

    entry = [int(i) for i in entry_ids]
    visited: dict = {int(qi): set(entry) for qi in qids}
    # Each scored layer is COLLECTED once (it is driver-bounded —
    # Q × beam × degree rows by the beam-search contract, the same
    # boundedness that lets the in-memory variant broadcast): the
    # beam cut runs over the collected rows under the IDENTICAL
    # (score asc nulls-last, vec_id asc) total order the window used,
    # and the final ranking recreates one local relation from the
    # collected layers. This replaces the r7-r13 shape — one eager
    # localCheckpoint job + one window-cut job per hop — with the
    # single pruned-fetch job per hop the design needs (r14 measured:
    # 4.75 s → see OPTIMIZATION_r14.md; scores travel as exact
    # doubles through collect/createDataFrame, so results are
    # bit-identical — equality with graph_search stays pinned in
    # tests/test_graph_search.py).
    import math

    def _beam_key(r):
        s = r["score"]
        # mirror the window order exactly: NULL last, NaN after all
        # real doubles (Spark's double ordering), vec_id breaks ties
        return (
            s is None,
            isinstance(s, float) and math.isnan(s),
            0.0 if s is None or math.isnan(s) else s,
            int(r["vec_id"]),
        )

    layer_rows = scored_fetch({qi: entry for qi in qids}).collect()
    all_rows = list(layer_rows)
    for _ in range(int(rounds)):
        by_q: dict = {}
        for r in layer_rows:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        frontier: dict = {
            qi: {int(r["vec_id"]) for r in sorted(rs, key=_beam_key)[: int(beam)]}
            for qi, rs in by_q.items()
        }
        front_ids = sorted({i for ids in frontier.values() for i in ids})
        if not front_ids:
            break
        adj_rows = (
            _pruned_fetch(edges, front_ids, n_buckets, "src")
            .select("src", "dst")
            .collect()
        )
        adj: dict = {}
        for r in adj_rows:
            adj.setdefault(int(r["src"]), []).append(int(r["dst"]))
        cand: dict = {}
        for qi, ids in frontier.items():
            new = {
                d for i in ids for d in adj.get(i, ())
            } - visited[qi]
            if new:
                cand[qi] = new
                visited[qi] |= new
        if not cand:
            break
        layer_rows = scored_fetch(cand).collect()
        all_rows.extend(layer_rows)
    allv = spark.createDataFrame(
        [(int(r["query_id"]), int(r["vec_id"]), r["score"]) for r in all_rows],
        "query_id INT, vec_id BIGINT, score DOUBLE",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("vec_id").asc()
    )
    return (
        allv.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "vec_id", "score", F.col("rank").cast("int"))
    )


def graph_drift_report(
    graph_scored: DataFrame,
    embeddings: DataFrame,
    n_sources: int = 20,
    k: int = 4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """Staleness gate for a MAINTAINED kNN graph — the adjacency member
    of the drift matrix (cells, codebooks, postings, token dists,
    rotation basis, + graph): per-source recall@k of the graph's
    CURRENT adjacency lists vs the exact neighbors under the CURRENT
    corpus, for ``n_sources`` deterministic sample nodes (lowest ids,
    one batch_knn pass), threshold-gated refine recommendation. A
    graph built before a wave of appends goes stale exactly here: the
    true neighborhoods shift under it while its edges stand still;
    when the gate trips, the repair is :func:`graph_append` for the
    missing nodes plus an :func:`nn_descent` refine pass — the same
    detect → repair → re-check contract as pq_drift_report/refit_pq.
    With k a power of two the per-source recalls are exact binary
    fractions, so the mean is bit-reproducible across engines (the
    ann_graph_drift_fixed oracle relies on this)."""
    src_rows = (
        embeddings.select(id_col, vector_col)
        .orderBy(F.col(id_col).asc())
        .limit(int(n_sources))
        .collect()
    )
    src_ids = [int(r[0]) for r in src_rows]
    exact = _exact_neighbor_lists(
        embeddings, src_rows, k, metric, id_col, vector_col
    )
    adj_rows = (
        graph_scored.filter(F.col("src").isin(src_ids))
        .select("src", "dst", "score")
        .collect()
    )
    per: dict = {}
    for r in adj_rows:
        sc = r["score"]
        per.setdefault(int(r["src"]), []).append(
            (float("inf") if sc is None else float(sc), int(r["dst"]))
        )
    recalls = []
    for sid in src_ids:
        got = [d for _, d in sorted(per.get(sid, []))[: int(k)]]
        recalls.append(len(set(got) & set(exact[sid])) / float(k))
    mean_r = float(sum(recalls) / len(recalls))
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [
            (
                int(len(src_ids)), int(k), mean_r, float(min(recalls)),
                float(threshold), bool(mean_r < threshold),
            )
        ],
        "n_sources INT, k INT, mean_recall DOUBLE, min_recall DOUBLE, "
        "threshold DOUBLE, refine_recommended BOOLEAN",
    )


def graph_search_filtered(
    graph: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    entry_ids: Sequence[int],
    predicate: Column | str,
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Filtered graph-ANN serving with ROUTE-THROUGH semantics — the
    graph member of the filtered-ANN story next to the IVF
    ``ivf_search_parquet(predicate=)`` path: the beam TRAVERSES the
    graph unfiltered (a node failing the metadata predicate still
    routes — pre-filtering the traversal would disconnect regions
    whose only paths run through failing nodes, the classic filtered-
    HNSW failure mode, pinned as a law in tests/test_graph_search.py),
    and the predicate applies to the RESULT set only: visited nodes
    join their metadata, failing nodes drop, the top-k cut ranks what
    remains. Costs one broadcast join of the bounded visited set
    against the store — the big side still never shuffles."""
    from pyspark.sql import Window

    visited = graph_search_visited(
        graph, embeddings, queries, entry_ids, beam=beam, rounds=rounds,
        metric=metric, id_col=id_col, vector_col=vector_col,
    )
    passing = _apply_pred(embeddings, predicate).select(
        F.col(id_col).alias("vec_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("vec_id").asc()
    )
    return (
        passing.join(F.broadcast(visited), "vec_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "vec_id", "score", F.col("rank").cast("int"))
    )


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    d_num: int = 85,
    d_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed graph in EXACT INTEGER arithmetic —
    the iterative-algorithm family expressed as a fixed unrolled
    chain of joins+aggregates (Spark's native shape for bounded
    iteration; the oracle replays the identical unrolled CTEs). The
    float recursion is partial-agg-order sensitive and never
    bit-stable across engines; here every node's mass is an integer
    in units of 1/scale (pr_0 = scale), each edge forwards
    ((pr * d_num) div d_den) div out_degree — integer floor division,
    identical in any engine — and each update is
    pr_{t+1}(v) = scale*(d_den-d_num) div d_den + Σ incoming shares,
    an exact bigint sum. Floor-division remainders and mass arriving
    at nodes outside the node set leak deterministically (both
    engines drop the identical units), so this is a bit-pinned
    fixed-iteration power step, not a convergence loop — the readout
    pipelines consume (relative centrality after T steps) is
    identical, and T is a parameter.

    Node set: distinct sources (in a kNN graph every node with a
    peer has out-edges, so there are no dangling nodes by
    construction). Returns (id, out_degree, pr_units) — all exact
    bigints. Overflow: pr is bounded by N·scale and the per-edge
    product by d_num·N·scale — 10^7 nodes at scale 10^12 needs the
    update sums in DECIMAL(38,0); at the graded sizes bigint holds
    with 10^3 headroom (documented bound, asserted nowhere hot).

    Scale shape: the edge relation is checkpointed ONCE (the kNN
    graph build never reruns per iteration); each iteration is one
    keyed join edges⋈pr on src + one map-combinable sum on dst +
    one left join back to the node set — 3 shuffles per iteration of
    the N·k edge relation, the minimum any distributed PageRank
    pays."""
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).localCheckpoint(eager=True)
    deg = e.groupBy("_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    ).localCheckpoint(eager=True)
    base = scale * (d_den - d_num) // d_den
    pr = deg.select(
        F.col("_s").alias("_id"),
        F.lit(int(scale)).cast("bigint").alias("_pr"),
    )
    for _ in range(int(iterations)):
        shares = (
            e.join(pr, e["_s"] == pr["_id"])
            .join(deg, "_s")
            .select(
                "_d",
                F.expr(f"((_pr * {d_num}) div {d_den}) div _deg").alias(
                    "_share"
                ),
            )
            .groupBy("_d")
            .agg(F.sum("_share").cast("bigint").alias("_c"))
        )
        pr = (
            deg.join(shares, deg["_s"] == shares["_d"], "left")
            .select(
                F.col("_s").alias("_id"),
                (
                    F.lit(int(base)).cast("bigint")
                    + F.coalesce(F.col("_c"), F.lit(0))
                ).cast("bigint").alias("_pr"),
            )
        )
    return (
        pr.join(deg, pr["_id"] == deg["_s"])
        .select(
            F.col("_id").alias("id"),
            F.col("_deg").alias("out_degree"),
            F.col("_pr").alias("pr_units"),
        )
    )


def label_prop_iter(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised LABEL PROPAGATION with clamped seeds — the
    second member of the iterative-graph family next to
    :func:`pagerank_integer`, exercising the OTHER aggregation shape
    (argmax-of-counts instead of sum): labeled nodes keep their label
    forever; each iteration, every still-unlabeled node takes the
    MAJORITY label among its out-neighbors' current labels (NULLs
    excluded), ties broken by the SMALLEST label — exact integer
    counts and a deterministic total order, so the fixed unrolled
    iteration is bit-replayable by any engine. A node whose reachable
    neighborhood is entirely unlabeled after ``iterations`` steps
    stays NULL (reported, not guessed). ``seeds`` carries (id, label)
    with label NULL for the unlabeled nodes.

    Scale shape: per iteration one keyed join edges⋈labels + one
    map-combinable (node, label) count + one deterministic
    WindowGroupLimit-shaped argmax per node — the edge relation is
    checkpointed once."""
    e = edges.select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    ).localCheckpoint(eager=True)
    lab = seeds.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_lab")
    ).localCheckpoint(eager=True)
    seeded = lab.filter(F.col("_lab").isNotNull())
    for _ in range(int(iterations)):
        votes = (
            e.join(
                lab.select(
                    F.col("_id").alias("_d"), F.col("_lab").alias("_nl")
                ),
                "_d",
            )
            .filter(F.col("_nl").isNotNull())
            .groupBy(F.col("_s").alias("_id"), F.col("_nl"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        )
        w = Window.partitionBy("_id").orderBy(
            F.desc("_c"), F.asc("_nl")
        )
        win = (
            votes.select(
                "_id", "_nl", F.row_number().over(w).alias("_r")
            )
            .filter(F.col("_r") == 1)
            .select("_id", F.col("_nl").alias("_win"))
        )
        lab = (
            lab.join(win, "_id", "left")
            .select(
                "_id",
                F.coalesce(
                    # clamped: seeds AND prior-round predictions are
                    # kept unconditionally once assigned — later
                    # rounds' votes only ever fill still-unlabeled
                    # nodes, never revise an existing label
                    F.when(F.col("_lab").isNotNull(), F.col("_lab")),
                    F.col("_win"),
                ).alias("_lab"),
            )
        )
    return lab.join(
        seeded.select("_id", F.col("_lab").alias("_seed")), "_id", "left"
    ).select(
        F.col("_id").alias(id_col),
        F.col("_lab").alias("predicted"),
        F.col("_seed").isNotNull().alias("was_seed"),
    )


def kmeans_lloyd_steps(
    embs: DataFrame,
    k: int = 4,
    iterations: int = 2,
    dims: int = 64,
    grid_bits: int = 18,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K-MEANS TRAINING (Lloyd 1982) in EXACT INTEGER arithmetic —
    the index-TRAINING step every IVF/PQ build wraps (the KMeans-fit
    rows ann_ivf_build / ann_ivf_recall stay rows-only because
    MLlib's float fit is engine-specific; this row pins the training
    MATH itself): vectors land on the 2^-grid_bits integer lattice
    (floor(x·2^g) — float32 → double → ×2^g is exact, so the floor is
    bit-identical in any engine), assignment is the exact-bigint
    argmin of Σ(x_d − c_d)² with ascending-cid tie-break, and the
    centroid update is the per-dimension integer mean (sum div count,
    both engines truncate toward zero). Deterministic seed: the k
    lowest-id vectors (the pinned-seed house convention — no RNG).
    Empty clusters keep their previous centroid.

    Spark shape per iteration: the k centroids collapse into ONE
    broadcast row (sort_array(collect_list) — k ≤ a few hundred), so
    ASSIGNMENT is a pure map (a fold over the centroid array, no
    shuffle, no explode); the UPDATE is one map-combinable groupBy
    with ``dims`` integer sums — exactly 1 shuffle per iteration of
    k·dims output. The grid relation is checkpointed once; the plan
    unrolls per iteration (the pagerank_integer convention).

    Overflow: |g| < 2^(grid_bits+1); per-distance ≤ dims·2^(2g+2)
    (2^46 at g=18, d=64); the inertia sum holds 2^63 up to ~10^5
    vectors per cell at these defaults — raise to DECIMAL(38,0) for
    larger cells (documented bound).

    Returns the post-training readout, one row per cluster: (cid,
    n_vecs, inertia_units, c_norm1) — final-assignment counts, exact
    within-cluster squared distance on the lattice, and the final
    centroid's L1 norm, all exact bigints.

    r15 driver-latency shape (guide §5, the graph-serving precedent):
    the k centroids are driver-bounded by contract (the earlier shape
    already collected them into one broadcast row), so each update is
    ONE job — the k·dims exact integers come back via collect and
    re-enter the next assignment as a LITERAL array, dropping the
    per-pass collect_list aggregate + broadcast exchange and the
    centroid checkpoint chain. Assignment is an array_min over
    (distance, cid) structs — the same (d asc, cid asc) winner as the
    earlier first-strict-improvement fold, with the distance fold
    evaluated once per centroid instead of twice. The lattice build is
    fanned out (a single-file scan otherwise runs the whole
    interpreted fold on one core; metadata-guarded no-op at scale)."""
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    scale = 1 << int(grid_bits)
    g = fan_out(embs).select(
        F.col(id_col).alias("_vid"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
        ).alias("_g"),
    ).localCheckpoint(eager=True)
    # pinned seeds: the k lowest-id vectors, ascending id → cid 0..k-1
    cents_py = [
        (i, [int(x) for x in r["_g"]])
        for i, r in enumerate(g.orderBy("_vid").limit(int(k)).collect())
    ]

    def _cents_lit() -> Column:
        # one JVM-parsed expression string: building k·dims literal
        # Columns through the Python API is hundreds of py4j calls per
        # pass
        parts = ", ".join(
            "named_struct('_cid', CAST(%d AS INT), '_c', array(%s))"
            % (cid, ", ".join(f"CAST({x} AS BIGINT)" for x in c))
            for cid, c in cents_py
        )
        return F.expr(f"array({parts})")

    def _dist(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("_g"), c["_c"], lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    def _best() -> Column:
        # lexicographic struct min == (min distance, then min cid):
        # identical winner and d to the first-strict-improvement fold
        # over the cid-ascending centroid array
        return F.array_min(
            F.transform(
                _cents_lit(),
                lambda c: F.struct(
                    _dist(c).alias("d"), c["_cid"].alias("cid")
                ),
            )
        )

    for _ in range(int(iterations)):
        assigned = g.select("_g", _best()["cid"].alias("_cid"))
        # update on the (cid, dim) grain via posexplode — NOT dims
        # separate sum aggregates: a 64-column HashAggregate generates
        # 64 update slots of whole-stage code that re-compiles every
        # iteration (the assignment literals change), and the janino
        # compile dominated the step at small SF. The exploded shape
        # keeps the generated aggregate tiny and iteration-stable;
        # sums, counts and the truncating div are unchanged exact
        # bigint math in Spark.
        upd = (
            assigned.select(
                "_cid", F.posexplode("_g").alias("_i", "_x")
            )
            .groupBy("_cid", "_i")
            .agg(
                F.sum("_x").cast("bigint").alias("_s"),
                F.count(F.lit(1)).cast("bigint").alias("_n"),
            )
            .select(
                "_cid", "_i",
                F.expr("_s div _n").cast("bigint").alias("_c"),
            )
        )
        updated: dict = {}
        for r in upd.collect():
            updated.setdefault(int(r["_cid"]), {})[int(r["_i"])] = int(
                r["_c"]
            )
        # empty clusters keep their previous centroid
        cents_py = [
            (
                cid,
                [updated[cid][i] for i in range(int(dims))]
                if cid in updated
                else c,
            )
            for cid, c in cents_py
        ]
    best = _best()
    final = g.select(
        "_g", best["cid"].alias("_cid"), best["d"].alias("_d")
    )
    by_cell = final.groupBy("_cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("_d").cast("bigint").alias("inertia_units"),
    )
    # exact integer L1 of the final centroids, computed on the driver
    # (same bigint fold over the same values) and joined back as a
    # local relation
    spark = embs.sparkSession
    l1 = spark.createDataFrame(
        [(cid, sum(abs(x) for x in c)) for cid, c in cents_py],
        "_cid int, c_norm1 bigint",
    )
    return (
        by_cell.join(F.broadcast(l1), "_cid")
        .select(
            F.col("_cid").alias("cid"), "n_vecs", "inertia_units",
            "c_norm1",
        )
    )


def triangle_stats(
    edges: DataFrame,
    nodes: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """TRIANGLE COUNT + clustering coefficient per node group over a
    directed edge relation — the graph-ANALYTICS member next to the
    iterative rows (pagerank/label-prop iterate; this one measures
    STRUCTURE: triangle density distinguishes a clustered near-dup
    neighborhood from a chain, and the global clustering coefficient
    3T/W is the standard graph-quality readout for a kNN graph).

    Algorithm: the MapReduce degree-ORDERED orientation (Suri &
    Vassilvitskii 2011) — undirect + dedup the edges, orient every
    edge from its (degree, id)-smaller endpoint to the larger, then
    count each triangle exactly once as wedge(a→b, a→c) ⋈ edge(b→c).
    The orientation is THE scale lever: out-degrees are bounded by
    O(√m) on any graph (a hub's edges all point AWAY from it only if
    every neighbor has higher degree — impossible past √m), so the
    wedge self-join never explodes on skewed degree distributions —
    the quadratic hot key a naive neighbor self-join hits at 100 TB.

    Exactness: counts are exact bigints; wedges per group is
    Σ d(d−1)/2 over exact integer degrees (d(d−1) is even — integer
    div exact); the clustering coefficient 3T/W is the one division,
    NULL-guarded for wedge-free groups. Returns per group: (group,
    n_nodes, n_edges, n_wedges, n_triangles, clustering) — nodes
    counted when they carry ≥ 1 edge."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("_dv"))
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    e = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("_dv")).otherwise(F.col("_du")).alias(
                "_db"
            ),
        )
        .localCheckpoint(eager=True)
    )
    e1 = e.select("a", "b", "_db")
    e2 = e.select(F.col("a"), F.col("b").alias("c"), F.col("_db").alias("_dc"))
    wedges = e1.join(e2, "a").filter(
        (F.col("_db") < F.col("_dc"))
        | ((F.col("_db") == F.col("_dc")) & (F.col("b") < F.col("c")))
    )
    closing = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    lab = nodes.select(
        F.col(id_col).alias("n"), F.col(group_col).alias("_grp")
    )
    tl = (
        tri.join(lab, tri["a"] == lab["n"])
        .groupBy("_grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    nl = (
        deg.join(lab, "n")
        .groupBy("_grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(
                F.expr("(d * (d - 1)) div 2")
            ).cast("bigint").alias("n_wedges"),
        )
    )
    el = (
        und.join(lab, und["u"] == lab["n"])
        .groupBy("_grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    return (
        nl.join(F.broadcast(el), "_grp", "left")
        .join(F.broadcast(tl), "_grp", "left")
        .select(
            F.col("_grp").alias(group_col),
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("bigint").alias("n_edges"),
            "n_wedges",
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    3.0
                    * F.coalesce("n_triangles", F.lit(0)).cast("double")
                    / F.col("n_wedges").cast("double"),
                    6,
                ),
            ).alias("clustering"),
        )
    )


def power_iteration_gram(
    embs: DataFrame,
    iterations: int = 3,
    dims: int = 64,
    grid_bits: int = 12,
    norm_bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dominant GRAM-matrix direction by POWER ITERATION in exact
    integer arithmetic — the iterative LINEAR-ALGEBRA member next to
    the iterative-graph rows (pagerank iterates over edges; this
    iterates over the feature space): the top direction of
    G = Σ x xᵀ is what PCA/whitening/OPQ initialization extracts
    before rotating or projecting embeddings, and power iteration is
    its distributed workhorse. The identity that makes each step ONE
    corpus pass with NO dims×dims matrix ever materialized:
    G·v = Σ_x x·(xᵀv) — per vector one fold s = gᵀv, then dims
    map-combinable sums Σ g_d·s.

    Exactness: vectors land on the 2^-grid_bits lattice (exact
    float32 → double → floor); v renormalizes each step to
    ~±2^norm_bits by pure integer division
    v' = u div max(1, max|u| div 2^norm_bits) (truncate-toward-zero
    in both engines), so every iterate is a bigint vector — power
    iteration's usual float non-determinism (partial-sum order) is
    gone, and the sign is pinned by the all-ones seed. Overflow at
    the defaults: |g| < 2^12, |v| < 2^11+2^10 → s < 2^30,
    g·s < 2^42 — the update sums hold past 2M vectors in bigint;
    the Rayleigh numerator Σ s² accumulates in DECIMAL(38,0).

    Readout, one row per dimension: (dim 1-based, v_unit — the final
    integer direction), with the per-vector Rayleigh quotient in DATA
    units on every row: lambda_data = Σ s² / (n · vᵀv ·
    2^(2·grid_bits)) — the explained second moment along the
    direction, the convergence number a whitening pipeline monitors.

    Scale shape: the lattice relation is checkpointed once (fanned
    out — a single-file scan otherwise runs the interpreted fold on
    one core; metadata-guarded no-op at scale); each iteration is one
    map pass + one map-combinable aggregate of dims sums — ZERO keyed
    shuffles. The iterate v is ONE row of dims bigints — driver-
    bounded by construction — so each step's exact integers come back
    via collect and re-enter the next pass as a LITERAL array (guide
    §5, the graph-serving precedent), dropping the per-step broadcast
    exchange and the v checkpoint chain; every divide stays in Spark
    (``div``), so the collected ints are bit-identical to the earlier
    relation-carried iterates."""
    d = int(dims)
    scale = 1 << int(grid_bits)
    shift = 1 << int(norm_bits)
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    g = fan_out(embs).select(
        F.col(id_col).alias("_vid"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
        ).alias("_g"),
    ).localCheckpoint(eager=True)
    spark = embs.sparkSession
    v_py = [1] * d

    def _v_lit() -> Column:
        # one JVM-parsed expression string (the _cents_lit note)
        return F.expr(
            "array(%s)" % ", ".join(f"CAST({x} AS BIGINT)" for x in v_py)
        )

    def _dot(a, b) -> Column:
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    for _ in range(int(iterations)):
        s = g.select("_g", _dot("_g", _v_lit()).alias("_s"))
        # update on the dim grain via posexplode — NOT dims separate
        # sum aggregates, whose 64-slot whole-stage code re-compiles
        # every step (the v literals change) and dominated the step at
        # small SF; the exploded sums are the same exact bigints
        u_rows = sorted(
            s.select("_s", F.posexplode("_g").alias("_i", "_x"))
            .groupBy("_i")
            .agg(
                F.sum(F.col("_x") * F.col("_s"))
                .cast("bigint")
                .alias("_u")
            )
            .collect(),
            key=lambda r: r["_i"],
        )
        u_py = [int(r["_u"]) for r in u_rows]
        # pure-integer renormalization on the driver, replicating
        # Spark's `div` exactly: div truncates toward zero, so
        # |u| // q (floor of a non-negative) re-signed is the same
        # value; q's operands are non-negative, so // == div there too
        q_py = max(max(abs(x) for x in u_py) // shift, 1)
        v_py = [
            (abs(x) // q_py) * (1 if x >= 0 else -1) for x in u_py
        ]
    v = spark.range(1).select(_v_lit().alias("_v"))
    sfin = g.select(_dot("_g", _v_lit()).alias("_s"))
    tot = sfin.agg(
        F.sum((F.col("_s") * F.col("_s")).cast("decimal(38,0)")).alias(
            "_num"
        ),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    )
    lam = (
        F.col("_num").cast("double")
        / (
            F.col("_n").cast("double")
            * F.col("_vv").cast("double")
            * F.lit(float(scale * scale))
        )
    )
    return (
        v.select("_v", _dot("_v", "_v").alias("_vv"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.posexplode("_v").alias("pos", "v_unit"),
            F.round(lam, 6).alias("lambda_data"),
        )
        .select(
            (F.col("pos") + 1).cast("int").alias("dim"),
            "v_unit",
            "lambda_data",
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-CORE PEELING TRAJECTORY over a directed edge relation — the
    graph-DECOMPOSITION member completing the analytics family
    (pagerank iterates, triangles measure closure; the k-core is the
    maximal subgraph where every node keeps >= k neighbors — Seidman
    1983, and the standard MapReduce peel is Quick et al. 2012): each
    round deletes every node whose undirected degree has fallen below
    ``k`` (a deleted neighbor lowers degrees, so peeling cascades),
    and the fixpoint — visible as n_removed = 0 — is the k-core. On a
    kNN graph the core is the densely-connected body and the peeled
    tail the sparse fringe, the graph-quality trim an ANN-graph
    build runs before serving (fringe nodes make poor beam-search
    entry points).

    The readout is the per-round TRAJECTORY (round, n_removed,
    n_nodes, n_edges) for rounds 1..``rounds`` — well-defined for ANY
    fixed round count (the unrolled-iteration convention: the
    trajectory converging is the result, so partial convergence is
    visible, never silent). Exact bigint counts; isolated nodes count
    degree 0 (left join, not a groupBy over edges — a node whose
    edges all died must still be peeled).

    Scale shape per round: ONE symmetric-degree count (map-combinable
    keyed agg) over the surviving edge relation, materialized as a
    single NODE-grain checkpoint — one driver job per round, not the
    earlier two (r15; guide §5 driver latency). The fusion leans on a
    peel invariant: survivors shrink monotonically (ndₜ ⊆ ndₜ₋₁), so
    the round-t edge set equals the ORIGINAL undirected relation
    restricted to round-t survivors (eₜ = und|ndₜ) and never needs
    its own materialization — each round's degree count joins the
    checkpointed ``und`` against the previous round's (broadcast-able)
    survivor filter, keeping lineage depth constant. Per-round edge
    counts fall out of the NEXT round's degree sums (Σ deg = 2·|e|,
    exact bigints); only the last round pays one lazy edge-count join
    in the readout. Output is ``rounds`` rows of exact counters."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # round-0 survivors: every node — evaluated lazily inside round
    # 1's degree job (a cheap distinct over the checkpointed und)
    prev_nodes = (
        und.select(F.col("u").alias("n"))
        .unionByName(und.select(F.col("v").alias("n")))
        .distinct()
    )
    prev_edges = und
    degs_list = []
    for t in range(1, int(rounds) + 1):
        sym = prev_edges.select(F.col("u").alias("n")).unionByName(
            prev_edges.select(F.col("v").alias("n"))
        )
        deg = sym.groupBy("n").agg(
            F.count(F.lit(1)).cast("bigint").alias("_d")
        )
        degs = (
            prev_nodes.join(deg, "n", "left")
            .select(
                "n", F.coalesce("_d", F.lit(0)).cast("bigint").alias("_d")
            )
            .localCheckpoint(eager=True)
        )
        degs_list.append(degs)
        nd = degs.filter(F.col("_d") >= int(k)).select("n")
        prev_nodes = nd
        prev_edges = (
            und.join(nd.select(F.col("n").alias("u")), "u")
            .join(nd.select(F.col("n").alias("v")), "v")
            .select("u", "v")
        )
    out_rows = []
    for t in range(1, int(rounds) + 1):
        degs = degs_list[t - 1]
        counts = degs.agg(
            F.coalesce(
                F.sum(F.when(F.col("_d") < int(k), 1)), F.lit(0)
            ).cast("bigint").alias("n_removed"),
            F.coalesce(
                F.sum(F.when(F.col("_d") >= int(k), 1)), F.lit(0)
            ).cast("bigint").alias("n_nodes"),
        )
        if t < int(rounds):
            # |eₜ| from round t+1's checkpointed degree sums: every
            # endpoint of eₜ survives round t, so Σ _d = 2·|eₜ|
            ecount = degs_list[t].agg(
                F.expr(
                    "cast(coalesce(sum(_d), 0) div 2 as bigint)"
                ).alias("n_edges")
            )
        else:
            ecount = prev_edges.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_edges")
            )
        out_rows.append(
            counts.crossJoin(ecount).select(
                F.lit(t).cast("int").alias("round"),
                "n_removed",
                "n_nodes",
                "n_edges",
            )
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out
