"""The serving path of ``rag.search_with_summary``: row parity with the
DataFrame path it replaced, the resident store handle under concurrent
clients and appends, and package shipping from client threads."""

from __future__ import annotations

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
    rag.store_tables(spark, sf_smoke)
    assert [key[0] for key in rag._STORE_HANDLES] == [spark]


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
