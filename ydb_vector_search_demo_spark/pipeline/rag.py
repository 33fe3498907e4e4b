"""The full RAG search pipeline around the KNN core (SURVEY.md §3.1).

Reference dataflow (/root/reference/app.py:103-171):
  embed query → exact KNN top-5 with scores → format results (1-based id,
  content, metadata, float score) → top-3 context joined with "\\n\\n" →
  Russian prompt template → LLM summary → JSON envelope with per-stage
  timings.

External model calls (YandexGPTEmbeddings at app.py:118, YandexGPT at
app.py:95) are network services; here they are pluggable. The default
implementations are the deterministic seeded stubs required for oracle
checking (FIXTURES.md): query text → 64-dim unit vector from per-token
hashes, and summary → deterministic function of the prompt. Swap in real
services by passing a different ``embed_fn`` / ``llm_fn``.

The serving path, :func:`search_with_summary`, has the reference's own
shape: it runs at call time as one scored top-k joined to payloads
(collected as at most k rows), then builds the context and prompt in
Python on the driver and calls ``llm_fn`` once there, like app.py:95.
Both ``search`` and ``search_with_summary`` parse that top-k as one
``spark.sql`` statement (:func:`_scored_docs`) over the temp views of a
resolved-once store handle (:class:`StoreHandle`); the served request
reads the handle's resident copy of the embeddings. The DataFrame forms
(:func:`format_results`, :func:`assemble_context`, :func:`build_prompt`)
and the Arrow-batched UDF seams (:func:`embed_texts_udf`,
:func:`llm_udf`) remain for column-wise and batch callers, never
row-at-a-time.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import random
import threading
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StringType

from ydb_vector_search_demo_spark.functions.vector import distance_sql
# knn_scores is re-exported: callers (and tracers) address it as rag.knn_scores
from ydb_vector_search_demo_spark.operators.knn import knn_scores  # noqa: F401
from ydb_vector_search_demo_spark.sources.tables import load_table

EMBEDDING_DIM = 64
_STUB_SEED = 42

# Exact template of /root/reference/app.py:86-91 (Russian text preserved;
# SURVEY.md §7.4 requires UTF-8 golden fidelity).
PROMPT_TEMPLATE = (
    'На основе следующих документов ответь на вопрос: "%s"\n'
    "\n"
    "Документы:\n"
    "%s\n"
    "\n"
    "Дай краткий и информативный ответ на русском языке, основываясь только "
    "на предоставленной информации. Если информации недостаточно для ответа, "
    "укажи это."
)

CONTEXT_SEPARATOR = "\n\n"  # app.py:82
CONTEXT_TOP_N = 3  # app.py:82 — only the first 3 docs feed the LLM
DEFAULT_K = 5  # app.py:124


def embed_query_stub(text: str) -> list[float]:
    """Deterministic replacement for ``embeddings.embed_query`` (app.py:118).

    Per-token md5-seeded pseudo-random 64-dim contribution, summed and
    L2-normalized. Pure Python + stdlib so the identical literal vector
    can be inlined into DuckDB oracle SQL.
    """
    v = [0.0] * EMBEDDING_DIM
    for tok in text.split():
        seed = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        seed ^= _STUB_SEED
        rng = random.Random(seed)
        for i in range(EMBEDDING_DIM):
            v[i] += rng.uniform(-1.0, 1.0)
    n = math.sqrt(sum(x * x for x in v))
    if n == 0.0:
        return v
    return [x / n for x in v]


def summarize_stub(prompt: str) -> str:
    """Deterministic replacement for ``yandex_gpt.invoke`` (app.py:95):
    echoes a fingerprint of the prompt. Stripped like app.py:97."""
    digest = hashlib.md5(prompt.encode("utf-8")).hexdigest()[:12]
    return f"[stub-summary {digest}]".strip()


def embed_texts_udf(embed_fn: Callable[[str], list[float]] = embed_query_stub):
    """Arrow-batched pandas UDF wrapping an embedding service (S3/V1).
    In production ``embed_fn`` calls the model API once per text (or in
    micro-batches); the UDF boundary is the only Python in the pipeline."""
    from ydb_vector_search_demo_spark.shipping import ensure_package_on_workers

    ensure_package_on_workers()

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: embed_fn(t or ""))

    return _embed


def llm_udf(llm_fn: Callable[[str], str] = summarize_stub):
    """Arrow-batched pandas UDF wrapping the LLM call (S4, app.py:95)."""
    from ydb_vector_search_demo_spark.shipping import ensure_package_on_workers

    ensure_package_on_workers()

    @F.pandas_udf(StringType())
    def _invoke(prompts: pd.Series) -> pd.Series:
        return prompts.map(lambda p: llm_fn(p or ""))

    return _invoke


def validate_query(query: str) -> str:
    """Non-empty-after-trim filter (P1, app.py:108-111)."""
    query = (query or "").strip()
    if not query:
        raise ValueError("Запрос не может быть пустым")  # app.py:111
    return query


def format_results(scored_docs: DataFrame) -> DataFrame:
    """P2/P3/V6 (app.py:129-138): 1-based id ordered by ascending score,
    ``text`` renamed ``content``, score cast to double. The enumeration
    window runs over k rows only — this runs after the top-k, never on
    the full table."""
    from ydb_vector_search_demo_spark.operators.knn import enumerate_results

    return enumerate_results(scored_docs).select(
        "id",
        F.col("doc_id"),
        F.col("text").alias("content"),
        F.col("source"),
        F.col("score").cast("double").alias("score"),
    )


def assemble_context(formatted: DataFrame, top_n: int = CONTEXT_TOP_N) -> DataFrame:
    """P4 + F2 (app.py:82): first ``top_n`` contents joined with a blank
    line, order preserved via sort_array over (id, content) structs so the
    aggregation is deterministic regardless of partitioning."""
    return (
        formatted.filter(F.col("id") <= top_n)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("id", "content"))),
                    lambda s: s["content"],
                ),
                CONTEXT_SEPARATOR,
            ).alias("context"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def build_prompt(query: str, context_df: DataFrame) -> DataFrame:
    """F3 (app.py:86-91): the exact Russian prompt template."""
    return context_df.select(
        F.format_string(
            PROMPT_TEMPLATE, F.lit(query), F.col("context")
        ).alias("prompt"),
        F.col("n_docs"),
    )


# An embeddings table stays resident when its bytes on disk are at most
# this share of the storage memory the executors report free when its
# handle is built. Cached, a store's (vec_id, embedding) relation took
# 0.72x (sf0.01) and 0.69x (sf0.1) of its parquet bytes, so a resident
# store holds under a fifth of the storage memory that was free; each
# later store is checked against what is left.
RESIDENT_SHARE = 0.25

_HANDLE_IDS = itertools.count()


def _free_storage_bytes(spark: SparkSession) -> int:
    """Storage memory the executors (the driver, in local mode) report
    free, on and off heap."""
    return sum(
        e.totalOnHeapStorageMemory() - e.usedOnHeapStorageMemory()
        + e.totalOffHeapStorageMemory() - e.usedOffHeapStorageMemory()
        for e in spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos()
    )


class StoreHandle:
    """The ``documents`` and ``embeddings`` relations of one store
    directory, resolved (listed) once. ``version`` is the tables'
    modification times read before the listing; :meth:`current_version`
    re-reads them with one Hadoop-FS ``getFileStatus`` per table and no
    recursive listing. A writer that adds or replaces files of a table
    changes its root's modification time (Spark's commit protocol does
    on every append or overwrite), so a changed version means the
    resolved listing may be stale.

    The handle registers session temp views under names of its own,
    which a request's one statement (:func:`_scored_docs`) reads:
    ``docs_view`` (the documents), ``embs_view`` (``vec_id``,
    ``embedding`` from parquet) and ``resident_view``. When the
    embeddings' bytes on disk (``embedding_bytes``, from the listing
    ``load_table`` made) are at most :data:`RESIDENT_SHARE` of the free
    storage memory, ``resident_view`` is ``resident``: the same relation
    persisted and materialised here. Its plan carries a filter naming
    the view, which the optimizer folds away; without it, Spark would
    substitute the cached data into every other reader of the table,
    stale after a write. Otherwise ``resident_view`` is ``embs_view``."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._spark = spark
        self._status = []
        for name in ("documents", "embeddings"):
            path = jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{name}.parquet")
            self._status.append((path.getFileSystem(conf), path))
        self.version = self.current_version()
        self.documents = load_table(spark, sf_dir, "documents")
        self.embeddings = load_table(spark, sf_dir, "embeddings")
        self.embedding_bytes = (
            self.embeddings._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        n = next(_HANDLE_IDS)
        self.docs_view = f"_ydbvs_store{n}_documents"
        self.embs_view = self.resident_view = f"_ydbvs_store{n}_embeddings"
        scan = self.embeddings.select("vec_id", "embedding")
        self.resident = None
        if self.embedding_bytes <= RESIDENT_SHARE * _free_storage_bytes(spark):
            self.resident_view = f"_ydbvs_store{n}_resident"
            resident = scan.where(F.lit(self.resident_view).isNotNull()).persist()
            try:
                resident.count()
            except BaseException:
                resident.unpersist(blocking=False)
                raise
            self.resident = resident
            resident.createOrReplaceTempView(self.resident_view)
        self.documents.createOrReplaceTempView(self.docs_view)
        scan.createOrReplaceTempView(self.embs_view)
        # requests between lookup and the end of their statement's use;
        # a replaced handle is released once none is left
        self._requests = 0
        self._retired = False

    def current_version(self) -> tuple[int, ...]:
        return tuple(fs.getFileStatus(p).getModificationTime() for fs, p in self._status)

    def _release(self) -> None:
        """Non-blocking unpersist and view drop, once the handle has left
        the map and no request uses it: a request planned against the
        cached relation and run after its unpersist would persist an
        orphan copy of it."""
        if self.resident is not None:
            self.resident.unpersist(blocking=False)
        for view in {self.docs_view, self.embs_view, self.resident_view}:
            self._spark.catalog.dropTempView(view)


# One handle per (session, store directory). Owned by this module: entries
# of a stopped session are dropped at the next lookup, and
# clear_store_cache() drops them all. _BUILD_LOCK serialises the builds
# of handles, which list files and run a job; _STORE_LOCK guards the map
# and the request counts only.
_STORE_HANDLES: dict[tuple[SparkSession, str], StoreHandle] = {}
_STORE_LOCK = threading.Lock()
_BUILD_LOCK = threading.Lock()


def _retire(handle: StoreHandle) -> bool:
    """Mark a handle that left the map (under ``_STORE_LOCK``); True when
    no request still uses it, so the caller releases it now."""
    handle._retired = True
    return handle._requests == 0


def _take(key: tuple[SparkSession, str], use: bool) -> StoreHandle | None:
    """The map's handle for ``key`` when its version is current, counted
    as in use with ``use``; entries of stopped sessions are dropped
    untouched on the way."""
    with _STORE_LOCK:
        for stale in [k for k in _STORE_HANDLES if k[0].sparkContext._jsc is None]:
            del _STORE_HANDLES[stale]
        handle = _STORE_HANDLES.get(key)
        if handle is None or handle.current_version() != handle.version:
            return None
        handle._requests += use
        return handle


def _lookup(spark: SparkSession, sf_dir: str, use: bool) -> StoreHandle:
    """The current handle of ``sf_dir``, re-resolved when the store's
    version changed; with ``use``, counted as in use until
    :func:`_done`. A new handle is built outside ``_STORE_LOCK``, so
    requests for current handles never wait on a build, and under
    ``_BUILD_LOCK``, so concurrent requests never list the same store
    twice; statements are parsed and analysed outside both."""
    key = (spark, sf_dir)
    handle = _take(key, use)
    if handle is not None:
        return handle
    with _BUILD_LOCK:
        handle = _take(key, use)  # built while this request waited
        if handle is not None:
            return handle
        fresh = StoreHandle(spark, sf_dir)
        with _STORE_LOCK:
            old = _STORE_HANDLES.get(key)
            _STORE_HANDLES[key] = fresh
            fresh._requests += use
            idle = old is not None and _retire(old)
    if idle:
        old._release()
    return fresh


def _done(handle: StoreHandle) -> None:
    with _STORE_LOCK:
        handle._requests -= 1
        last = handle._retired and handle._requests == 0
    if last:
        handle._release()


@contextmanager
def _store_in_use(spark: SparkSession, sf_dir: str) -> Iterator[StoreHandle]:
    """The current handle of ``sf_dir``, counted as in use for the block."""
    handle = _lookup(spark, sf_dir, use=True)
    try:
        yield handle
    finally:
        _done(handle)


def clear_store_cache() -> None:
    """Drop every resident store handle (the next call re-resolves):
    each live session's handle unpersists its relation and drops its
    views, at once or when its last request is done."""
    with _STORE_LOCK:
        live = [h for k, h in _STORE_HANDLES.items() if k[0].sparkContext._jsc is not None]
        _STORE_HANDLES.clear()
        idle = [h for h in live if _retire(h)]
    for handle in idle:
        handle._release()


def _scored_docs(
    handle: StoreHandle, embs_view: str, score_sql: str, k: int, columns: str = "d.*"
) -> DataFrame:
    """The exact KNN top-k joined to its document payloads as one
    statement over the handle's views: the rows and schema of
    ``knn(documents, embeddings, ...)`` with ``columns`` = ``d.*``. The
    k-row side is broadcast; ``score_sql`` scores ``embedding`` of
    ``embs_view`` (the handle's ``embs_view`` or ``resident_view``)."""
    return handle._spark.sql(
        f"SELECT /*+ BROADCAST(t) */ {columns}, t.score "
        f"FROM {handle.docs_view} d "
        f"JOIN (SELECT vec_id, {score_sql} AS score FROM {embs_view} "
        f"ORDER BY score ASC NULLS LAST, vec_id ASC LIMIT {int(k)}) t "
        "ON d.doc_id = t.vec_id"
    )


def _score_sql(
    query: str, metric: str, embed_fn: Callable[[str], Sequence[float]]
) -> str:
    """Embed the (validated) query once — app.py:118 CSE — and render its
    distance to ``embedding``."""
    return distance_sql("embedding", list(embed_fn(query)), metric)


def search(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    k: int = DEFAULT_K,
    metric: str = "cosine",
    embed_fn: Callable[[str], Sequence[float]] = embed_query_stub,
) -> DataFrame:
    """End-to-end search stage (app.py:117-138): embed once, exact KNN
    top-k, formatted results. Returns the formatted-results DataFrame.

    The result is lazy, so its statement reads the store's parquet
    relation (``embs_view``), not the resident copy: the handle may be
    released before the caller runs it, and a plan over a released
    cached relation would persist an orphan copy of it when run."""
    query = validate_query(query)
    score = _score_sql(query, metric, embed_fn)
    with _store_in_use(spark, sf_dir) as handle:
        scored = _scored_docs(handle, handle.embs_view, score, k)
    return format_results(scored)


def _result_order(row) -> tuple:
    """:func:`enumerate_results`' order as a Python sort key: score
    ascending with NULL first and NaN after every number (Spark's
    ordering of doubles), ties on doc_id."""
    score = row["score"]
    if score is None:
        return (0, 0.0, row["doc_id"])
    if math.isnan(score):
        return (2, 0.0, row["doc_id"])
    return (1, score, row["doc_id"])


def search_with_summary(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    k: int = DEFAULT_K,
    metric: str = "cosine",
    embed_fn: Callable[[str], Sequence[float]] = embed_query_stub,
    llm_fn: Callable[[str], str] = summarize_stub,
) -> DataFrame:
    """Full pipeline including the summary stage (app.py:82-97,141-149),
    executed at call time: one scored top-k joined to payloads is
    collected (at most ``k`` rows), then the top-3 context, the prompt
    and one ``llm_fn`` call are made on the driver. Returns the single
    ``(prompt, summary, n_docs)`` row as a local relation, which
    collects without a Spark job.

    Row-for-row equal to ``build_prompt(query, assemble_context(search(
    ...)))`` with ``F.trim(llm_udf(llm_fn)(prompt))``: a NULL text is
    skipped in the context but counted in ``n_docs``, and the summary
    is stripped of ASCII spaces only, as ``F.trim`` does."""
    query = validate_query(query)
    score = _score_sql(query, metric, embed_fn)
    with _store_in_use(spark, sf_dir) as handle:
        rows = _scored_docs(
            handle, handle.resident_view, score, k, "d.doc_id, d.text"
        ).collect()
    top = sorted(rows, key=_result_order)[:CONTEXT_TOP_N]
    context = CONTEXT_SEPARATOR.join(r["text"] for r in top if r["text"] is not None)
    prompt = PROMPT_TEMPLATE % (query, context)
    summary = llm_fn(prompt)
    if summary is not None:
        summary = summary.strip(" ")  # .strip(), app.py:97 — F.trim's spaces-only rule
    return spark.createDataFrame(
        pa.table(
            {
                "prompt": pa.array([prompt], pa.string()),
                "summary": pa.array([summary], pa.string()),
                "n_docs": pa.array([len(top)], pa.int64()),
            }
        )
    )


def response_envelope(
    query: str,
    formatted: DataFrame,
    summary_df: DataFrame,
    timings: dict[str, float] | None = None,
) -> DataFrame:
    """S5 (app.py:155-167): one-row envelope with results array, count,
    summary, and 3-dp performance struct. Timings come from the harness
    (wall-clock instrumentation is not a data operator, SURVEY.md §6)."""
    t = timings or {"embedding_time": 0.0, "search_time": 0.0, "gpt_time": 0.0}
    total = t.get("total_time", sum(t.values()))
    results_arr = formatted.agg(
        F.sort_array(
            F.collect_list(F.struct("id", "content", "source", "score"))
        ).alias("results"),
        F.count(F.lit(1)).alias("count"),
    )
    return (
        results_arr.crossJoin(summary_df.select("summary"))
        .select(
            F.lit(True).alias("success"),
            F.lit(query).alias("query"),
            F.col("results"),
            F.col("count"),
            # summary may be null when no results / LLM down (app.py:141-149)
            F.when(F.col("count") > 0, F.col("summary")).otherwise(F.lit(None)).alias("summary"),
            F.struct(
                F.round(F.lit(t.get("embedding_time", 0.0)), 3).alias("embedding_time"),
                F.round(F.lit(t.get("search_time", 0.0)), 3).alias("search_time"),
                F.round(F.lit(t.get("gpt_time", 0.0)), 3).alias("gpt_time"),
                F.round(F.lit(total), 3).alias("total_time"),
            ).alias("performance"),
        )
    )


def upsert_store(
    existing: DataFrame, incoming: DataFrame, key_col: str = "doc_id"
) -> DataFrame:
    """UPSERT semantics of the store's add_documents path (SURVEY.md
    §2.2 V5 [API-inferred]: embed + UPSERT): incoming rows replace
    existing rows with the same key, everything else is kept.

    Pure-DataFrame merge: incoming ∪ (existing ⟂ incoming) via a
    left-anti join on the key — one shuffle on the key (or zero with
    bucketed storage). On a table format with MERGE (Delta/Iceberg) this
    whole function is one `MERGE INTO`; on raw Parquet the caller
    rewrites the affected partitions with the returned frame."""
    survivors = existing.join(incoming, on=key_col, how="left_anti")
    return survivors.unionByName(incoming)


def delete_docs(
    existing: DataFrame, keys, key_col: str = "doc_id"
) -> DataFrame:
    """Store document REMOVAL — the delete half of the store lifecycle
    the reference's langchain-ydb store exposes alongside add/upsert
    [API-inferred behind /root/reference/app.py:29-42]; the
    takedown/refresh flow every real corpus pipeline hits.

    ``keys`` is an iterable of key values or a one-column DataFrame.
    Broadcast left-anti join: delete batches are tiny relative to the
    store, so the store side never shuffles."""
    if isinstance(keys, DataFrame):
        keys_df = keys.select(F.col(keys.columns[0]).alias(key_col))
    else:
        keys_df = existing.sparkSession.createDataFrame(
            [(k,) for k in keys], existing.select(key_col).schema
        )
    return existing.join(F.broadcast(keys_df), on=key_col, how="left_anti")


def read_store(
    base: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    key_col: str = "doc_id",
    version_col: str = "_v",
) -> DataFrame:
    """Log-structured store READ path: merge the base snapshot with an
    upsert log and a tombstone log — merge-on-read, exactly what a
    Delta/Iceberg table does between compactions, expressed as plain
    DataFrame ops on raw Parquet.

    ``base`` rows carry implicit version 0; ``upserts`` carries
    ``version_col`` (> 0, at most one row per (key, version));
    ``deletes`` is a (key, version) tombstone log. Latest version wins
    per key, and a tombstone hides every row version <= its own — so a
    later re-upsert RESURRECTS a deleted key, matching MERGE semantics.

    One shuffle on the key for the latest-wins window; the tombstone
    side broadcasts (delete logs are small). Compaction
    (:func:`compact_store`) rewrites this view to a plain snapshot."""
    allr = base.withColumn(version_col, F.lit(0)).unionByName(upserts)
    w = Window.partitionBy(key_col).orderBy(F.col(version_col).desc())
    latest = (
        allr.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    del_max = deletes.groupBy(key_col).agg(F.max(version_col).alias("_del_v"))
    return (
        latest.join(F.broadcast(del_max), on=key_col, how="left")
        .filter(F.col("_del_v").isNull() | (F.col(version_col) > F.col("_del_v")))
        .drop("_del_v", version_col)
    )


def compact_store(
    base: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    out_path: str,
    key_col: str = "doc_id",
    version_col: str = "_v",
) -> DataFrame:
    """Tombstone-aware compaction: materialize the merged store view to
    ``out_path`` and return the re-read snapshot — after this the logs
    can be dropped and the read path is a plain scan again. Never
    writes in place (the atomic swap is the caller's rename/metastore
    step, like sources.tables.compact_parquet)."""
    merged = read_store(base, upserts, deletes, key_col, version_col)
    merged.write.mode("overwrite").parquet(out_path)
    return base.sparkSession.read.parquet(out_path)


def health(spark: SparkSession) -> DataFrame:
    """GET /health analogue (app.py:173-180): static availability row."""
    return spark.range(1).select(
        F.lit("healthy").alias("status"),
        F.lit(True).alias("vector_store_available"),
        F.lit(True).alias("yandex_gpt_available"),
    )


def read_store_at(
    base: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    version: int,
    key_col: str = "doc_id",
    version_col: str = "_v",
) -> DataFrame:
    """TIME TRAVEL over the log-structured store: the merged view AS OF
    ``version`` — replay only log entries with version <= v, exactly
    the Delta/Iceberg ``VERSION AS OF`` read re-expressed on the raw
    logs. A version filter on the (already small) log sides is the
    only change vs :func:`read_store`, so the snapshot costs what the
    current view costs; no store rewrite, no copy."""
    v = int(version)
    return read_store(
        base,
        upserts.filter(F.col(version_col) <= v),
        deletes.filter(F.col(version_col) <= v),
        key_col,
        version_col,
    )


def store_changes_between(
    base: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    v_from: int,
    v_to: int,
    key_col: str = "doc_id",
    compare_col: str = "text",
) -> DataFrame:
    """CHANGE DATA FEED between two store versions: one row per key
    whose live value differs between the ``v_from`` and ``v_to``
    snapshots, tagged insert / update / delete (unchanged keys are
    absent — the Delta CDF contract). ``compare_col`` decides update
    detection (payload equality, null-safe).

    Scale shape: two snapshot views over the SAME base relation and a
    full outer join keyed on the key — all three shuffles share the
    key, so a co-partitioned (bucketed) store pays one exchange per
    log replay and none for the diff join; output is bounded by the
    churn between the versions, never the store size."""
    a = read_store_at(base, upserts, deletes, v_from, key_col)
    b = read_store_at(base, upserts, deletes, v_to, key_col)
    a_side = a.select(
        F.col(key_col),
        F.col(compare_col).alias("_before"),
        F.lit(1).alias("_in_a"),
    )
    b_side = b.select(
        F.col(key_col),
        F.col(compare_col).alias("_after"),
        F.lit(1).alias("_in_b"),
    )
    joined = a_side.join(b_side, key_col, "full_outer")
    change = (
        F.when(F.col("_in_a").isNull(), F.lit("insert"))
        .when(F.col("_in_b").isNull(), F.lit("delete"))
        .when(
            ~F.col("_before").eqNullSafe(F.col("_after")), F.lit("update")
        )
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(key_col, "change_type", "_before", "_after")
        .withColumnsRenamed({"_before": "before", "_after": "after"})
    )


def scd2_history(
    base: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    key_col: str = "doc_id",
    payload_col: str = "text",
) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 view of the log-structured
    store: one row per (key, value version) with its validity interval
    — (key, payload, valid_from, valid_to, is_current) — the
    warehouse-history complement of :func:`read_store_at` (one
    version) and :func:`store_changes_between` (one diff). A value row
    opens at its own version and closes at the key's NEXT change of
    any kind (upsert or delete); the latest un-deleted value is
    ``is_current``. ``valid_to`` is -1 for open intervals so the
    column stays integer-typed in every engine (a NULL int lands as
    float64 in pandas on one side and not the other — the driver-hash
    dtype-kind rule). Assumes at most one change per (key, version),
    the upsert-log contract.

    Scale shape: one union of the three logs and ONE window keyed on
    the key (lead over version) — a single shuffle whose per-key state
    is that key's change count (bounded by churn, never store size);
    delete markers participate in the lead and are then dropped
    map-side."""
    ev = (
        base.select(
            F.col(key_col),
            F.col(payload_col).alias("_p"),
            F.lit(0).alias("_v"),
            F.lit(True).alias("_is_upsert"),
        )
        .unionByName(
            upserts.select(
                F.col(key_col),
                F.col(payload_col).alias("_p"),
                F.col("_v").cast("int").alias("_v"),
                F.lit(True).alias("_is_upsert"),
            )
        )
        .unionByName(
            deletes.select(
                F.col(key_col),
                F.lit(None).cast("string").alias("_p"),
                F.col("_v").cast("int").alias("_v"),
                F.lit(False).alias("_is_upsert"),
            )
        )
    )
    return scd2_from_events(ev, key_col=key_col, payload_col=payload_col)


def scd2_from_events(
    ev: DataFrame, key_col: str = "doc_id", payload_col: str = "text"
) -> DataFrame:
    """The SCD2 window over an already-built event relation
    ``(key, _p, _v, _is_upsert)`` — the shared core of
    :func:`scd2_history` (full logs) and the incremental churn-merge
    publish (streaming.ingest.stream_scd2_ingest_incremental, which
    reconstructs events for the churn keys only). One window keyed on
    the key (lead over version); per-key state is that key's change
    count. Spelled as JVM-parsed expression strings: the incremental
    publish constructs this per micro-batch, and the Python Column
    API's py4j round-trips were a measurable slice of the per-batch
    driver latency (guide §5)."""
    k, p = f"`{key_col}`", f"`{payload_col}`"
    return (
        ev.selectExpr(
            "*",
            f"lead(_v) over (partition by {k} order by _v asc) as _next",
        )
        .filter("_is_upsert")
        .selectExpr(
            k,
            f"_p as {p}",
            "_v as valid_from",
            "cast(coalesce(_next, -1) as int) as valid_to",
            "(_next is null) as is_current",
        )
    )
