"""The serving path of ``rag.search_with_summary``: row parity with the
DataFrame path it replaced, the resident store handle under concurrent
clients and appends, and package shipping from client threads."""

from __future__ import annotations

import itertools
import math
import sys
import threading

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.pipeline import rag

QUERY = "как оформить возврат"
DOC_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
EMB_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def _mix(w: float) -> list[float]:
    """Unit vector between the query's embedding (w=1) and an unrelated
    direction (w=0); cosine distance to the query grows as w falls."""
    qv = rag.embed_query_stub(QUERY)
    other = rag.embed_query_stub("совершенно другая тема про еду")
    v = [w * a + (1 - w) * b for a, b in zip(qv, other)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _append(spark, d: str, docs: list[tuple], embs: list[tuple], mode: str = "append") -> None:
    spark.createDataFrame(docs, DOC_SCHEMA).write.mode(mode).parquet(f"{d}/documents.parquet")
    spark.createDataFrame(embs, EMB_SCHEMA).write.mode(mode).parquet(f"{d}/embeddings.parquet")


def _docs(texts) -> list[tuple]:
    return [(i, t, "ru", f"doc_{i}", len(t or "")) for i, t in enumerate(texts)]


@pytest.fixture(scope="module")
def edge_store(spark, tmp_path_factory):
    """Docs 0-4 at strictly increasing distance, doc 2's text NULL, and
    doc 5 with a zero-norm embedding (NULL cosine score)."""
    d = str(tmp_path_factory.mktemp("edge_store"))
    texts = ["первый", "второй", None, "четвёртый", "пятый", "нулевой вектор"]
    embs = [(i, _mix(1.0 - 0.2 * i), 0) for i in range(5)] + [(5, [0.0] * 64, 0)]
    _append(spark, d, _docs(texts), embs, mode="overwrite")
    return d


@pytest.mark.parametrize(
    "k, llm",
    [
        (5, "padded"),  # zero-norm doc stays out; NULL text inside the top-3
        (6, "padded"),  # zero-norm doc enters the top-k and enumerates first
        (2, "padded"),  # fewer than CONTEXT_TOP_N docs
        (5, "stub"),
    ],
)
def test_search_with_summary_matches_dataframe_path(spark, edge_store, k, llm):
    llm_fn = (lambda p: " \n x \n ") if llm == "padded" else rag.summarize_stub
    got = rag.search_with_summary(spark, edge_store, QUERY, k=k, llm_fn=llm_fn)
    prompt_df = rag.build_prompt(
        QUERY, rag.assemble_context(rag.search(spark, edge_store, QUERY, k=k))
    )
    want = prompt_df.select(
        "prompt",
        F.trim(rag.llm_udf(llm_fn)(F.col("prompt"))).alias("summary"),
        "n_docs",
    )
    assert got.dtypes == want.dtypes == [
        ("prompt", "string"), ("summary", "string"), ("n_docs", "bigint"),
    ]
    assert got.collect() == want.collect()


def test_search_with_summary_edge_rows(spark, edge_store):
    """The parity cases pinned to literal values, so that a shared
    mistake in both paths is caught too."""
    row = rag.search_with_summary(
        spark, edge_store, QUERY, k=6, llm_fn=lambda p: " \n x \n "
    ).collect()[0]
    context = "\n\n".join(["нулевой вектор", "первый", "второй"])
    assert row["prompt"] == rag.PROMPT_TEMPLATE % (QUERY, context)
    assert row["summary"] == "\n x \n"  # F.trim strips ASCII spaces only
    assert row["n_docs"] == 3
    row = rag.search_with_summary(spark, edge_store, QUERY, k=5).collect()[0]
    assert row["prompt"] == rag.PROMPT_TEMPLATE % (QUERY, "первый\n\nвторой")
    assert row["n_docs"] == 3  # the NULL text is counted, not joined


def test_store_handle_concurrent_requests_and_freshness(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "golden")
    texts = [
        "Возврат товара оформляется в личном кабинете.",
        "Срок возврата — 14 дней с момента покупки.",
        "Деньги вернутся на карту в течение 5 дней.",
        "Доставка осуществляется по всей стране.",
        "Оплата возможна картой или наличными.",
    ]
    _append(spark, d, _docs(texts), [(i, _mix(1.0 - 0.2 * i), 0) for i in range(5)],
            mode="overwrite")
    golden = rag.PROMPT_TEMPLATE % (QUERY, "\n\n".join(texts[:3]))
    loads = []
    load_table = rag.load_table
    monkeypatch.setattr(
        rag, "load_table", lambda *a: loads.append(a[2]) or load_table(*a)
    )

    prompts, errors = [], []

    def client() -> None:
        try:
            for _ in range(5):
                prompts.append(rag.search_with_summary(spark, d, QUERY).collect()[0]["prompt"])
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert prompts == [golden] * 20
    # resolved once for all 20 requests: no client listed the store again
    assert sorted(loads) == ["documents", "embeddings"]
    assert [key for key in rag._STORE_HANDLES if key[1] == d] == [(spark, d)]

    # a new doc between docs 0 and 1 is served by the next call, no clear
    _append(spark, d, [(5, "Новый документ.", "ru", "doc_5", 15)], [(5, _mix(0.9), 0)])
    row = rag.search_with_summary(spark, d, QUERY).collect()[0]
    fresh = [texts[0], "Новый документ.", texts[1]]
    assert row["prompt"] == rag.PROMPT_TEMPLATE % (QUERY, "\n\n".join(fresh))
    assert [r["doc_id"] for r in rag.search(spark, d, QUERY).collect()] == [0, 5, 1, 2, 3]

    rag.clear_store_cache()
    assert rag._STORE_HANDLES == {}


def test_store_handles_of_stopped_sessions_are_released(spark, sf_smoke):
    class Stopped:
        class sparkContext:
            _jsc = None

    rag._STORE_HANDLES[(Stopped(), sf_smoke)] = object()
    rag._lookup(spark, sf_smoke, use=False)
    assert [key[0] for key in rag._STORE_HANDLES] == [spark]
    rag.clear_store_cache()


def test_udf_built_in_client_thread_ships_package(spark):
    """A thread that did not create the session has no active session;
    building a UDF there must still ship the package."""
    from ydb_vector_search_demo_spark import shipping

    sc = spark.sparkContext
    shipping.ensure_package_on_workers(spark)
    setattr(sc, shipping._SENTINEL, False)
    errors = []

    def build() -> None:
        try:
            rag.embed_texts_udf()
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    t = threading.Thread(target=build)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert errors == []
    assert getattr(sc, shipping._SENTINEL) is True


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_statement_rows_match_knn(spark, tmp_path):
    """The request's one statement returns ``knn()``'s rows and schema:
    an embedding without a document, a duplicate doc_id, a NULL
    (zero-norm) score, and k beyond the store's size."""
    from ydb_vector_search_demo_spark.functions.vector import distance_sql
    from ydb_vector_search_demo_spark.operators.knn import knn

    d = str(tmp_path / "edge")
    docs = _docs(["а", "б", "в", "г"]) + [(2, "дубль", "ru", "doc_2b", 5)]
    embs = [(i, _mix(1.0 - 0.15 * i), 0) for i in range(4)]
    embs += [(4, [0.0] * 64, 0), (7, _mix(0.95), 0)]  # zero norm; no document
    _append(spark, d, docs, embs, mode="overwrite")
    handle = rag._lookup(spark, d, use=False)
    assert handle.resident is not None
    qv = rag.embed_query_stub(QUERY)
    for view, metric, k in itertools.product(
        (handle.embs_view, handle.resident_view), ("cosine", "inner_product"), (3, 5, 50)
    ):
        got = rag._scored_docs(handle, view, distance_sql("embedding", qv, metric), k)
        want = knn(handle.documents, handle.embeddings, qv, k=k, metric=metric)
        assert got.schema == want.schema
        assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    score = distance_sql("embedding", qv, "cosine")
    rows = rag._scored_docs(handle, handle.resident_view, score, 50).collect()
    assert sorted(r["doc_id"] for r in rows) == [0, 1, 2, 2, 3]
    rag.clear_store_cache()


def test_handle_replacement_releases_resident_relation(spark, tmp_path):
    d = str(tmp_path / "store")
    _append(spark, d, _docs(["первый", "второй"]), [(i, _mix(1.0 - 0.2 * i), 0) for i in range(2)],
            mode="overwrite")
    before = _persisted_ids(spark)
    rag.search_with_summary(spark, d, QUERY).collect()
    old = rag._STORE_HANDLES[(spark, d)]
    old_ids = _persisted_ids(spark) - before
    assert len(old_ids) == 1
    _append(spark, d, [(2, "третий", "ru", "doc_2", 6)], [(2, _mix(0.9), 0)])
    row = rag.search_with_summary(spark, d, QUERY).collect()[0]
    assert row["prompt"] == rag.PROMPT_TEMPLATE % (QUERY, "первый\n\nтретий\n\nвторой")
    new = rag._STORE_HANDLES[(spark, d)]
    assert new is not old
    assert not old_ids & _persisted_ids(spark)
    assert len(_persisted_ids(spark) - before) == 1
    for view in (old.docs_view, old.embs_view, old.resident_view):
        assert not spark.catalog.tableExists(view)
    assert spark.catalog.tableExists(new.resident_view)
    rag.clear_store_cache()


def test_clear_store_cache_releases_every_handle(spark, tmp_path):
    """Every handle's views are dropped and its relation unpersisted; a
    handle still in use keeps both until its request is done (a request
    planned against the cached relation and run after an unpersist
    would persist an orphan copy of it)."""
    before = _persisted_ids(spark)
    handles = []
    for name in ("one", "two"):
        d = str(tmp_path / name)
        _append(spark, d, _docs(["текст"]), [(0, _mix(1.0), 0)], mode="overwrite")
        handles.append(rag._lookup(spark, d, use=name == "two"))
    assert len(_persisted_ids(spark) - before) == 2
    rag.clear_store_cache()
    assert rag._STORE_HANDLES == {}
    assert len(_persisted_ids(spark) - before) == 1
    idle, busy = handles
    for view in (idle.docs_view, idle.embs_view, idle.resident_view):
        assert not spark.catalog.tableExists(view)
    assert spark.catalog.tableExists(busy.resident_view)
    rag._done(busy)
    assert _persisted_ids(spark) - before == set()
    for view in (busy.docs_view, busy.embs_view, busy.resident_view):
        assert not spark.catalog.tableExists(view)


def test_handle_is_built_outside_the_map_lock(spark, tmp_path, monkeypatch):
    """Building a handle lists files and runs a job; requests for other
    stores take ``_STORE_LOCK`` meanwhile, so the build must not hold it."""
    d = str(tmp_path / "store")
    _append(spark, d, _docs(["текст"]), [(0, _mix(1.0), 0)], mode="overwrite")
    held = []
    load_table = rag.load_table
    monkeypatch.setattr(
        rag, "load_table", lambda *a: held.append(rag._STORE_LOCK.locked()) or load_table(*a)
    )
    handle = rag._lookup(spark, d, use=False)
    assert handle.resident is not None
    assert held == [False, False]
    rag.clear_store_cache()


def test_search_result_outlives_its_handle(spark, tmp_path):
    """``search`` returns a lazy DataFrame that reads the store's
    parquet relation, not the resident copy. Planned (as its collect
    begins), then its handle replaced and released, then run: it
    persists nothing and returns the rows of the store it was built on.
    A plan over the resident copy would rebuild it as an orphan."""
    d = str(tmp_path / "store")
    _append(spark, d, _docs(["первый", "второй"]), [(i, _mix(1.0 - 0.2 * i), 0) for i in range(2)],
            mode="overwrite")
    df = rag.search(spark, d, QUERY)
    df._jdf.queryExecution().executedPlan()
    old = rag._STORE_HANDLES[(spark, d)]
    assert old.resident is not None
    _append(spark, d, [(2, "третий", "ru", "doc_2", 6)], [(2, _mix(0.9), 0)])
    rag.search_with_summary(spark, d, QUERY).collect()  # replaces and releases the handle
    assert not spark.catalog.tableExists(old.resident_view)
    persisted = _persisted_ids(spark)
    assert [r["doc_id"] for r in df.collect()] == [0, 1]
    assert _persisted_ids(spark) == persisted
    assert "InMemoryTableScan" not in df._jdf.queryExecution().executedPlan().toString()
    rag.clear_store_cache()


def test_concurrent_requests_across_an_append(spark, tmp_path):
    """4 clients keep asking while an append changes the store's
    version: no request fails, and each sees the old store or the new
    one, never a mix."""
    d = str(tmp_path / "golden")
    texts = ["Возврат товара.", "Срок возврата.", "Деньги вернутся.", "Доставка."]
    _append(spark, d, _docs(texts), [(i, _mix(1.0 - 0.2 * i), 0) for i in range(4)],
            mode="overwrite")
    old = rag.PROMPT_TEMPLATE % (QUERY, "\n\n".join(texts[:3]))
    new = rag.PROMPT_TEMPLATE % (QUERY, "\n\n".join([texts[0], "Новый.", texts[1]]))
    rag.search_with_summary(spark, d, QUERY).collect()
    prompts, errors = [], []
    appended = threading.Event()

    def client() -> None:
        try:
            for n in range(12):
                if n == 4:
                    appended.wait(timeout=120)
                prompts.append(rag.search_with_summary(spark, d, QUERY).collect()[0]["prompt"])
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(4)]
    for t in threads:
        t.start()
    _append(spark, d, [(4, "Новый.", "ru", "doc_4", 6)], [(4, _mix(0.9), 0)])
    appended.set()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(prompts) == 48
    assert set(prompts) <= {old, new}
    assert prompts.count(new) >= 4 * 8  # every request after the append's wait
    assert rag.search_with_summary(spark, d, QUERY).collect()[0]["prompt"] == new
    rag.clear_store_cache()
