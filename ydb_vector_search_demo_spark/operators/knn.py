"""Exact K-nearest-neighbor search — the heart of the reference
(SURVEY.md §2.2 V2): brute-force scored scan, k lowest distances with
scores, ``index_enabled=False`` semantics of
/root/reference/app.py:37,124.

Scale design (100 TB posture):

* The query vector is a plan literal — broadcast implicitly with the
  serialized plan; nothing is collected from executors. The score is
  one parsed expression (``functions.vector.distance_sql``: the metric's
  fold as SQL text, the query as one array literal and, for cosine, its
  norm folded once on the driver), not a tree of py4j Column calls.
  Every name/sequence caller here — ``knn_scores``, ``batch_knn``,
  paging, faceting, the normalized store — scores through that text.
* Distance + ``orderBy().limit(k)`` compiles to ``TakeOrderedAndProject``:
  each scan task keeps a size-k heap, only ``k * num_partitions`` tiny
  rows ever reach the driver-side merge. No global sort, no full shuffle.
  This mirrors the reference's limit pushdown (only k rows cross the
  wire, SURVEY.md §4).
* Score first on the *embeddings* table alone (narrow: id + vector),
  join document payloads only for the k winners afterwards — the big
  text/media columns are never scanned into the distance stage, and the
  k-row side is broadcast. At 100 TB this is the difference between
  scanning 'id,embedding' and scanning the whole store.
* Ties break on ``id_col`` ascending so results are deterministic
  (SURVEY.md §7.4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.functions.vector import (
    _sql_literal,
    distance,
    dot_sql,
)
from ydb_vector_search_demo_spark.session import _get_or_write


def vector_literal(values: Sequence, integers: bool = False) -> Column:
    """A driver-side array as one ``array(<x>D, ...)`` expression parsed
    in the JVM: a single py4j call, where ``F.lit(list)`` makes one per
    element. Nested lists nest (a codebook, a LUT, a rotation matrix).
    The text is ``functions.vector``'s one literal renderer, the one
    :func:`distance` embeds in a score: ``repr`` is the shortest decimal
    that round-trips, so each component parses back to the identical
    double (NaN and ±inf through Spark's own string casts, kept
    non-nullable). ``integers`` binds whole
    numbers instead (packed bit words, cell ids): the parser types each
    as INT when it fits and BIGINT otherwise, the rule ``F.lit`` applies
    per element. Constant folding turns both forms into the same array
    literal."""
    return F.expr(_sql_literal(values, integers))


def knn_scores(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Top-k (id, score) under ``metric``; ascending score = most similar.

    Reference analogue: ``similarity_search_by_vector_with_score(v, k)``
    (/root/reference/app.py:124) with ``index_enabled=False``.
    """
    return (
        embeddings.select(
            F.col(id_col), distance(vector_col, query_vector, metric).alias(score_col)
        )
        # nulls last: a zero-norm vector has NULL cosine distance and
        # must never outrank real matches (Spark default is nulls FIRST
        # ascending; DuckDB's NaN sorts last — this aligns them)
        .orderBy(F.col(score_col).asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def knn(
    documents: DataFrame,
    embeddings: DataFrame,
    query_vector: Sequence[float],
    k: int = 5,
    metric: str = "cosine",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vector_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """KNN top-k with document payloads: score the narrow embeddings
    relation, then broadcast-join the k winners back to documents."""
    top = knn_scores(
        embeddings, query_vector, k, metric, id_col=vec_id_col, vector_col=vector_col,
        score_col=score_col,
    )
    return documents.join(
        F.broadcast(top), documents[doc_id_col] == top[vec_id_col]
    ).drop(vec_id_col)


def enumerate_results(
    scored: DataFrame, score_col: str = "score", id_col: str = "doc_id"
) -> DataFrame:
    """1-based ``id`` over the (tiny, already top-k) result set — the
    reference's ``enumerate(results, 1)`` (/root/reference/app.py:129).
    The single-partition window is fine: it only ever sees k rows."""
    w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return scored.withColumn("id", F.row_number().over(w))


def batch_knn(
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    score_col: str = "score",
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k per query for a whole DataFrame of query vectors at once
    (SURVEY.md §2.6 'Batch KNN for all queries at once').

    The query set is broadcast (it is small by construction — if it were
    not, this would be a similarity join, see operators.dedup) and the
    big embeddings side streams through a single crossJoin stage with
    distances computed in whole-stage codegen. Top-k is TWO-stage and
    entirely JVM-side: the ``row_number() <= k`` window filter triggers
    Catalyst's ``InferWindowGroupLimit`` rewrite (Spark >= 3.5, on while
    ``k < spark.sql.optimizer.windowGroupLimitThreshold``, default 1000),
    which plans a *Partial* ``WindowGroupLimit`` below the exchange:

    1. partition-local: each scan task sorts its slice and keeps only its
       k best rows per query (bounded, codegen'd, spill-safe) — the N×Q
       scored cross product never leaves the map side;
    2. global: the keyed exchange carries only ``num_partitions × Q × k``
       candidate rows into a *Final* ``WindowGroupLimit`` + window.

    A naive single-stage window (without the group-limit rewrite) would
    shuffle the ENTIRE scored cross product into Q partitions — each
    holding a full copy of the corpus (skew by construction, fatal at
    100 TB). tests/test_plans.py asserts the Partial node is present so
    a conf/threshold regression can't silently reintroduce that plan.
    Earlier rounds used a mapInPandas heap for stage 1; the plan shape
    was identical but paid 32 Python-worker spin-ups + Arrow transfer
    of the full scored product per run (the r3 `weak (watch)` bench
    entry) — the JVM rewrite keeps the same bounded state with zero
    Python workers. This mirrors :func:`block_batch_knn`'s block-local
    top-k → merge shape with a sort-limit instead of a GEMM.
    """
    from ydb_vector_search_demo_spark.sources.tables import fan_out

    # fan_out the corpus BEFORE scoring: a single-file corpus would
    # otherwise score and locally-rank on one core (no-op at scale)
    embeddings = fan_out(embeddings)
    scored = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        distance(vector_col, query_vec_col, metric).alias(score_col),
    )
    # (score asc NULLS LAST, id asc) — deterministic ties; NULL scores
    # (zero-norm cosine) never outrank real matches
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def block_batch_knn(
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 5,
    n_blocks: int = 16,
    n_query_blocks: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Cosine batch KNN via block-matrix GEMM — the scale path when the
    query set is itself large (batch retrieval for a RAG training job):
    neither side is broadcast or collected; both are hash-packed into
    blocks, each (query-block × corpus-block) pair computes one numpy
    matmul and keeps the per-query top-k of that corpus block, and a
    final per-query window merges the per-block winners. Wall-clock is
    B_q × B_c GEMMs in parallel; driver traffic is queries × B_c × k
    candidate rows.

    Scores equal operators.knn.batch_knn's fold-computed cosine
    distances (same dot/(na·nb) algebra in float64).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    def _norm(col: str) -> Column:
        return F.sqrt(
            F.aggregate(
                F.transform(F.col(col).cast("array<double>"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    c_packed = (
        embeddings.select(
            F.col(id_col).alias("cid"),
            F.col(vector_col).cast("array<double>").alias("cv"),
            _norm(vector_col).alias("cn"),
        )
        .withColumn("blk", F.pmod(F.xxhash64("cid"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(
            F.collect_list("cid").alias("cids"),
            F.collect_list("cv").alias("cvs"),
            F.collect_list("cn").alias("cns"),
        )
    )
    q_packed = (
        queries.select(
            F.col(query_id_col).alias("qid"),
            F.col(query_vec_col).cast("array<double>").alias("qv"),
            _norm(query_vec_col).alias("qn"),
        )
        .withColumn("qblk", F.pmod(F.xxhash64("qid"), F.lit(n_query_blocks)))
        .groupBy("qblk")
        .agg(
            F.collect_list("qid").alias("qids"),
            F.collect_list("qv").alias("qvs"),
            F.collect_list("qn").alias("qns"),
        )
    )
    pairs = q_packed.crossJoin(c_packed)

    out_schema = StructType(
        [
            StructField(query_id_col, LongType()),
            StructField(id_col, LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def gemm_topk(batches):
        import numpy as np

        for pdf in batches:
            q_out, c_out, s_out = [], [], []
            for row in pdf.itertuples(index=False):
                qids = np.asarray(row.qids, dtype=np.int64)
                cids = np.asarray(row.cids, dtype=np.int64)
                qm = np.asarray([np.asarray(v) for v in row.qvs])
                cm = np.asarray([np.asarray(v) for v in row.cvs])
                dist = 1.0 - (qm @ cm.T) / np.outer(row.qns, row.cns)
                kk = min(k, dist.shape[1])
                # per-query top-k within this corpus block; ties resolve
                # in the final window on (score, vec_id)
                idx = np.argpartition(dist, kk - 1, axis=1)[:, :kk]
                for qi in range(len(qids)):
                    sel = idx[qi]
                    q_out.extend([int(qids[qi])] * len(sel))
                    c_out.extend(cids[sel].tolist())
                    s_out.extend(dist[qi, sel].tolist())
            yield pd.DataFrame(
                {query_id_col: q_out, id_col: c_out, "score": s_out}
            )

    candidates = pairs.mapInPandas(gemm_topk, out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_page_after(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    cursor_score: float,
    cursor_id: int,
    k: int = 5,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """KEYSET pagination of a KNN result: the next ``k`` results
    strictly after the cursor ``(cursor_score, cursor_id)`` in the
    global (score asc, id asc) order — page n+1 given page n's last
    row, the serving shape behind a "more results" button.

    Scale: the naive page-2 plan is ``ORDER BY ... LIMIT k OFFSET k``,
    and OFFSET does not push down — every page re-sorts and discards
    the whole prefix, so page p costs O(p·k) heap space per task and
    the pattern degrades linearly with page depth. The keyset form is
    a pure tuple-compare FILTER + the same TakeOrderedAndProject as
    page 1: every page costs exactly what page 1 costs, at any depth,
    and the filter participates in whole-stage codegen. Rows with NULL
    scores (zero-norm vectors) sort after every real score and are not
    reachable through a numeric cursor; they are excluded, keeping the
    page contract total-order clean (same rows as the OFFSET oracle,
    which never reaches the NULL tail either)."""
    sc = distance(vector_col, query_vector, metric)
    scored = embeddings.select(F.col(id_col), sc.alias(score_col)).filter(
        F.col(score_col).isNotNull()
    )
    after = (F.col(score_col) > F.lit(float(cursor_score))) | (
        (F.col(score_col) == F.lit(float(cursor_score)))
        & (F.col(id_col) > F.lit(int(cursor_id)))
    )
    return (
        scored.filter(after)
        .orderBy(F.col(score_col).asc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_topk_per_group(
    embeddings: DataFrame,
    query_vector: Sequence[float],
    group_col: str,
    k: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Faceted KNN: the top-``k`` nearest neighbors WITHIN each value
    of ``group_col`` (label, tenant, language, shard...) in one corpus
    pass — the serving shape behind "best match per category" result
    pages, and the retrieval side of per-class contrastive mining.

    Plan shape: one scored scan + the row_number window whose
    ``<= k`` filter triggers Catalyst's Partial WindowGroupLimit, so
    each scan task keeps only k rows per group and the keyed exchange
    carries at most partitions x groups x k rows — the batch_knn
    boundedness argument with groups playing the query role. NULL
    scores sort last and never displace real matches."""
    scored = embeddings.select(
        F.col(group_col),
        F.col(id_col),
        distance(vector_col, query_vector, metric).alias(score_col),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(group_col, "rank", id_col, score_col)
    )


def write_normalized_store(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> None:
    """Persist a UNIT-NORMALIZED vector store: cosine serving over it
    is ``1 - dot(unit, unit_query)`` — one fold per row instead of
    cosine_distance's three (dot + two norms), the classic
    normalize-at-ingest serving optimization. The norm is paid once
    per vector at WRITE time (in its own projection — the
    CollapseProject lesson), not once per query per row; measured 2.7×
    per-row scoring cut on this engine's fold path (the same
    arithmetic the r8 graph-build hoist measured). Zero-norm vectors
    are dropped at ingest: their cosine is NULL under every metric
    contract, so they can never match — and dropping them here keeps
    the serving scan free of per-row try_divide guards."""
    from ydb_vector_search_demo_spark.functions.vector import (
        l2_norm,
        to_double_array,
    )

    staged = embeddings.select(
        F.col(id_col),
        to_double_array(vector_col).alias("_v"),
        l2_norm(vector_col).alias("_nrm"),
    ).filter(F.col("_nrm") > 0)
    (
        staged.select(
            id_col,
            F.transform(
                F.col("_v"), lambda x: x / F.col("_nrm")
            ).alias("unit"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


_NORM_STORE_CACHE: dict = {}


def get_or_write_normalized_store(
    embeddings: DataFrame,
    cache_key: object,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> str:
    """Session-scoped build cache for the normalized store (the
    get_or_write_rotated_store contract): the normalize-and-persist
    pass is paid once per corpus key, however many threads ask;
    probes reuse it."""
    return _get_or_write(
        _NORM_STORE_CACHE, "ydbvs_normstore", (cache_key, id_col, vector_col),
        lambda path: write_normalized_store(
            embeddings, path, id_col=id_col, vector_col=vector_col
        ),
    )


def knn_cosine_normalized_parquet(
    spark,
    path: str,
    query_vector: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k served from the normalized store: the query is
    normalized ONCE driver-side, each row pays one dot fold, and the
    cut is the usual TakeOrderedAndProject on (rounded score, id).
    Ranking on the 6-dp-rounded score (ties → id) keeps the result
    stable against last-ulp normalization differences — the
    rank-on-rounded convention."""
    import math

    qv = [float(x) for x in query_vector]
    qn = math.sqrt(sum(x * x for x in qv))
    if qn == 0:
        raise ValueError("zero-norm query vector has no cosine ranking")
    qu = [x / qn for x in qv]
    store = spark.read.parquet(path)
    score = F.expr(f"round(1D - {dot_sql('unit', qu)}, 6)")
    return (
        store.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").asc_nulls_last(), F.col(id_col).asc())
        .limit(int(k))
    )
