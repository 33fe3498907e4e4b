"""Property-based tests (SURVEY.md §5.2 item 5) — hypothesis-generated
inputs, batched into one DataFrame per example so Spark actions stay
cheap. Reference mirrors reproduce JAVA semantics exactly: `\\s` is
ASCII-only in Java regex (unlike Python's unicode-aware `\\s`), and
Spark's `trim` strips only the space character. Codepoints stay in the
BMP so JS/Java UTF-16 lengths equal Python codepoint lengths."""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.functions.strings import truncate_text
from ydb_vector_search_demo_spark.functions.textstats import word_shingles
from ydb_vector_search_demo_spark.functions.vector import (
    cosine_distance,
    euclidean_distance,
    manhattan_distance,
)

TEXT = st.text(
    alphabet=st.characters(
        max_codepoint=0xFFFF, exclude_categories=("Cs", "Cc")
    ),
    max_size=60,
)
TEXTS = st.lists(TEXT, min_size=1, max_size=12)

_JAVA_WS = r"[ \t\n\x0b\f\r]+"  # Java regex \s (ASCII-only)

_spark = None


def _get_spark():
    from pyspark.sql import SparkSession

    global _spark
    if _spark is None:
        _spark = SparkSession.getActiveSession()
    if _spark is None:
        from ydb_vector_search_demo_spark.session import get_spark

        _spark = get_spark("tests")
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


def _ref_tokens(t: str) -> list[str]:
    s = t.strip(" ")  # F.trim strips only spaces
    if s == "":
        return []
    return re.split(_JAVA_WS, s)


def _js_truncate(text: str, max_length: int) -> str:
    if len(text) <= max_length:
        return text
    truncated = text[:max_length]
    last_space = truncated.rfind(" ")
    if last_space > max_length * 0.8:
        return truncated[:last_space] + "..."
    return truncated + "..."


@settings(max_examples=8, deadline=None)
@given(texts=TEXTS)
def test_truncate_matches_js_reference(texts):
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i INT, t STRING"
    )
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i", truncate_text(F.col("t"), 20).alias("out")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _js_truncate(t, 20), repr(t)


@settings(max_examples=8, deadline=None)
@given(texts=TEXTS)
def test_shingles_match_python_reference(texts):
    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i INT, t STRING"
    )
    got = {
        r["i"]: r["sh"]
        for r in df.select("i", word_shingles("t", 3).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        toks = _ref_tokens(t)
        if len(toks) <= 3:
            expected = [" ".join(toks)]
        else:
            expected = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        assert got[i] == expected, repr(t)


def test_zero_vector_never_outranks_real_matches(spark):
    """Regression for the ANSI DIVIDE_BY_ZERO found by hypothesis: a
    zero-norm embedding must neither crash the scan nor rank first."""
    from ydb_vector_search_demo_spark.operators.knn import knn_scores

    df = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    rows = knn_scores(df, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in rows] == [1, 2, 0]
    assert rows[-1]["score"] is None


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_distance_metric_properties(vecs):
    spark = _get_spark()
    pairs = [(i, vecs[i], vecs[(i + 1) % len(vecs)]) for i in range(len(vecs))]
    df = spark.createDataFrame(pairs, "i INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    rows = df.select(
        "i",
        euclidean_distance("a", "b").alias("eab"),
        euclidean_distance("b", "a").alias("eba"),
        manhattan_distance("a", "b").alias("mab"),
        euclidean_distance("a", "a").alias("eaa"),
        cosine_distance("a", "b").alias("cab"),
    ).collect()
    for r in rows:
        assert math.isclose(r["eab"], r["eba"], rel_tol=1e-12, abs_tol=1e-12)
        assert r["eab"] >= 0 and r["mab"] >= 0
        assert r["mab"] + 1e-9 >= r["eab"]  # L1 >= L2 always
        assert abs(r["eaa"]) < 1e-12
        a, b = vecs[r["i"]], vecs[(r["i"] + 1) % len(vecs)]
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            # zero-norm → NULL (try_divide), never an ANSI error
            assert r["cab"] is None
        else:
            assert -1e-9 <= r["cab"] <= 2 + 1e-9


@settings(max_examples=20, deadline=None)
@given(
    tokens=st.lists(st.integers(min_value=1, max_value=700), min_size=1, max_size=40),
    budget=st.integers(min_value=64, max_value=600),
)
def test_pack_sequences_matches_python_reference(spark, tokens, budget):
    from ydb_vector_search_demo_spark.operators.curation import pack_sequences

    rows = [(i, 0, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, bucket BIGINT, n_tokens INT")
    got = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(df, budget=budget).collect()
    }
    # pure-python reference of the greedy walk
    expected, pack_id, acc = {}, 0, 0
    for i, t in enumerate(tokens):
        if acc > 0 and acc + t > budget:
            pack_id += 1
            acc = 0
        acc += t
        expected[i] = pack_id
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(texts=st.lists(TEXT, min_size=1, max_size=8))
def test_redact_pii_is_idempotent(spark, texts):
    from ydb_vector_search_demo_spark.operators.curation import redact_pii

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i INT, t STRING")
    once = df.select("i", redact_pii("t").alias("r"))
    twice = once.select("i", redact_pii(F.col("r")).alias("r"))
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


VEC = st.lists(
    st.one_of(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        st.just(float("nan")),
        st.just(float("inf")),
        st.just(float("-inf")),
        st.just(0.0),
    ),
    min_size=1,
    max_size=16,
)


@given(st.lists(VEC, min_size=1, max_size=6))
@settings(max_examples=25, deadline=None)
def test_quantize_total_on_degenerate_vectors(vecs):
    """quantize_int8 must be TOTAL: any mix of NaN/±inf/zero/huge
    elements quantizes without an ANSI cast/divide error, every code
    stays in [-127, 127], and finite well-scaled vectors roundtrip
    within scale/2 per element."""
    from ydb_vector_search_demo_spark.operators import ann, quant

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = ann.store_rows(df, codecs=(quant.Int8Codec(),)).collect()  # must not raise
    assert len(rows) == len(vecs)
    for r in rows:
        assert all(-127 <= c <= 127 for c in r.qvec), r
        src = vecs[r.vec_id]
        scale = r.qscale
        if all(math.isfinite(x) for x in src) and 0 < scale < float("inf"):
            for x, c in zip(src, r.qvec):
                assert abs(x - c * scale) <= scale / 2 + 1e-6 * abs(x) + 1e-9, (
                    x, c, scale)


@given(st.lists(VEC, min_size=1, max_size=6))
@settings(max_examples=25, deadline=None)
def test_binary_packing_total_and_matches_driver(vecs):
    """quantize_binary is total on degenerate inputs and always equals
    the driver-side packing rule (NaN > 0 is False in both)."""
    from ydb_vector_search_demo_spark.operators import ann, quant

    spark = _get_spark()
    dim = max(len(v) for v in vecs)
    padded = [v + [0.0] * (dim - len(v)) for v in vecs]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(padded)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    got = {
        r.vec_id: list(r.bvec)
        for r in ann.store_rows(df, codecs=(quant.BinaryCodec(dim),)).collect()
    }
    for i, v in enumerate(padded):
        assert got[i] == quant.pack_query_bits(v), (i, v)


@given(st.lists(VEC, min_size=1, max_size=4))
@settings(max_examples=15, deadline=None)
def test_pq_encode_total_on_degenerate_vectors(vecs):
    """pq_encode must be total: degenerate elements may land in any
    cell (NaN distances), but every code stays a valid codebook index
    and nothing raises."""
    from ydb_vector_search_demo_spark.operators import ann, pq

    spark = _get_spark()
    dim = 8
    padded = [(v + [0.0] * dim)[:dim] for v in vecs]
    books = [
        [[0.1 * (c + 1) * ((i + j) % 3 - 1) for i in range(4)] for c in range(4)]
        for j in range(2)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(padded)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    rows = ann.store_rows(df, codecs=(pq.PqCodec(books),)).collect()  # must not raise
    assert len(rows) == len(padded)
    for r in rows:
        assert len(r.pq_codes) == 2
        assert all(0 <= c < 4 for c in r.pq_codes), r


# ------------------------------------------------------- gap-fill laws
# Invariants of operators.timeseries.bucketed_agg_gapfill under random
# sparse series: the spine is dense per key, observed aggregates
# survive unchanged, zero-fill only fabricates zeros, LOCF only ever
# repeats previously-observed values.

_SERIES = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.integers(min_value=0, max_value=72),      # hour offset
        st.floats(min_value=-100, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=20, deadline=None)
@given(_SERIES)
def test_gapfill_laws(rows):
    from datetime import datetime, timedelta

    from ydb_vector_search_demo_spark.operators import timeseries as TS

    spark = _get_spark()
    base = datetime(2024, 1, 1)
    data = [(k, base + timedelta(hours=h, minutes=7), v) for k, h, v in rows]
    df = spark.createDataFrame(data, "k string, ts timestamp, v double")
    out = TS.bucketed_agg_gapfill(
        df, keys=["k"], ts_col="ts", bucket="1 hour",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("v"), 6).alias("sv"),
        ],
        fill_zero=["n"], fill_locf=["sv"],
    ).collect()

    observed_hours = {}
    for k, h, _ in rows:
        observed_hours.setdefault(k, set()).add(h)
    got = {}
    for r in out:
        got.setdefault(r["k"], {})[int((r["bucket"] - base).total_seconds() // 3600)] = r

    for k, hours in observed_hours.items():
        lo, hi = min(hours), max(hours)
        # law 1: dense spine exactly [min, max] per key
        assert sorted(got[k]) == list(range(lo, hi + 1))
        # law 2: observed buckets keep exact counts; fabricated are 0
        for h, r in got[k].items():
            expected_n = sum(
                1 for kk, hh, _ in rows if kk == k and hh == h
            )
            assert r["n"] == expected_n
        # law 3: total event count preserved
        assert sum(r["n"] for r in got[k].values()) == sum(
            1 for kk, _, _ in rows if kk == k
        )
        # law 4: LOCF values are always some previously-observed bucket sum
        observed_sums = {
            h: round(sum(v for kk, hh, v in rows if kk == k and hh == h), 6)
            for h in hours
        }
        carry = None
        for h in range(lo, hi + 1):
            if h in observed_sums:
                carry = observed_sums[h]
            sv = got[k][h]["sv"]
            assert sv is not None and abs(sv - carry) < 1e-6


# ------------------------------------------------ chunked range joins

_TS0 = 1_700_000_000  # fixed epoch base; hypothesis varies offsets


@settings(max_examples=10, deadline=None)
@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400_000),
            st.integers(min_value=0, max_value=300_000),
        ),
        min_size=1,
        max_size=8,
    ),
    pts=st.lists(
        st.integers(min_value=-100_000, max_value=800_000),
        min_size=1,
        max_size=12,
    ),
    chunk=st.sampled_from([3600, 86400, 100_000]),
)
def test_interval_point_join_equals_naive_randomized(ivs, pts, chunk):
    """Randomized equality: the chunk-join rewrite must match the naive
    non-equi join for ANY interval/point layout and chunk size —
    including intervals shorter than, equal to, and spanning many
    chunks, and points outside every interval."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ydb_vector_search_demo_spark.operators import timeseries as TS

    spark = _get_spark()

    def ts(sec):
        return dt.datetime.utcfromtimestamp(_TS0 + sec)

    iv = spark.createDataFrame(
        [(i, ts(s), ts(s + d)) for i, (s, d) in enumerate(ivs)],
        "iid INT, start_ts TIMESTAMP, end_ts TIMESTAMP",
    )
    pt = spark.createDataFrame(
        [(j, ts(p)) for j, p in enumerate(pts)],
        "pid INT, ts TIMESTAMP",
    )
    got = sorted(
        (r.iid, r.pid)
        for r in TS.interval_point_join_bucketed(
            iv, pt, chunk_seconds=chunk
        ).collect()
    )
    want = sorted(
        (r.iid, r.pid)
        for r in iv.crossJoin(pt)
        .filter(
            (F.col("ts") >= F.col("start_ts")) & (F.col("ts") <= F.col("end_ts"))
        )
        .collect()
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    lhs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400_000),
            st.integers(min_value=0, max_value=300_000),
        ),
        min_size=1,
        max_size=6,
    ),
    rhs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400_000),
            st.integers(min_value=0, max_value=300_000),
        ),
        min_size=1,
        max_size=6,
    ),
    chunk=st.sampled_from([3600, 86400]),
)
def test_interval_interval_join_equals_naive_randomized(lhs, rhs, chunk):
    """Randomized equality incl. exact multiplicity (no duplicated
    pairs from multi-chunk overlaps) for the interval-overlap join."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ydb_vector_search_demo_spark.operators import timeseries as TS

    spark = _get_spark()

    def ts(sec):
        return dt.datetime.utcfromtimestamp(_TS0 + sec)

    lv = spark.createDataFrame(
        [(i, ts(s), ts(s + d)) for i, (s, d) in enumerate(lhs)],
        "lid INT, start_ts TIMESTAMP, end_ts TIMESTAMP",
    )
    rv = spark.createDataFrame(
        [(j, ts(s), ts(s + d)) for j, (s, d) in enumerate(rhs)],
        "rid INT, r_start_ts TIMESTAMP, r_end_ts TIMESTAMP",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in TS.interval_interval_join_bucketed(
            lv, rv, chunk_seconds=chunk
        ).collect()
    )
    want = sorted(
        (r.lid, r.rid)
        for r in lv.crossJoin(rv)
        .filter(
            (F.col("start_ts") <= F.col("r_end_ts"))
            & (F.col("r_start_ts") <= F.col("end_ts"))
        )
        .collect()
    )
    assert got == want
    assert len(got) == len(set(got))


@settings(max_examples=10, deadline=None)
@given(
    xy=st.lists(
        st.tuples(
            st.floats(min_value=-50.0, max_value=500.0, allow_nan=False),
            st.floats(min_value=-50.0, max_value=500.0, allow_nan=False),
        ),
        min_size=1,
        max_size=12,
    ),
    bits=st.sampled_from([4, 6, 8]),
)
def test_zvalue_column_matches_reference_randomized(xy, bits):
    """The Column z-value equals the driver-side reference interleave
    for arbitrary doubles, including values outside the clamp range."""
    from ydb_vector_search_demo_spark.operators import layout

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
        "id INT, x DOUBLE, y DOUBLE",
    )
    got = {
        r.id: r.z
        for r in df.select(
            "id",
            layout.zvalue_expr(
                [("x", 0.0, 255.0), ("y", 0.0, 255.0)], bits=bits
            ).alias("z"),
        ).collect()
    }
    for i, (x, y) in enumerate(xy):
        want = layout.zvalue_py([x, y], [(0.0, 255.0), (0.0, 255.0)], bits=bits)
        assert got[i] == want, (i, x, y, bits)


@pytest.mark.parametrize("router", ["ivf", "tree"])
def test_stored_vector_finds_itself_at_one_probe(spark, tmp_path, router):
    """Index invariant: every vector of a float store, written by the one
    write and then grown by the one append, is among the score-0 rows of
    its own ``nprobe=1`` (tree ``1/1``) euclidean probe. Cells are
    assigned by L2 and euclidean ranks centroids by L2, so a vector's
    own cell is always the first one probed. Cosine is left out on
    purpose: ``rank_centroids`` ranks the un-normalised centroids by
    cosine while cells are assigned by L2, so 1.15% of stored vectors
    miss their own cell (ROADMAP item 3). Pinned codebooks cut from the
    corpus, so no KMeans runs; one batch probe per store."""
    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.sources.tables import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    pins = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(6).collect()
    ]
    if router == "ivf":
        cells = ann._IvfRouter(pins[:4])
    else:
        cells = ann._TreeRouter(pins[:2], [pins[2:4], pins[4:6]])
    path = str(tmp_path / router)
    ann.write_store(embs.filter("vec_id % 2 = 0"), path, cells)
    ann.write_store(embs.filter("vec_id % 2 = 1"), path, cells, mode="append")
    stored = spark.read.parquet(path)
    queries = stored.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    found: dict = {}
    for r in ann.VectorStore(stored, cells).batch_search(
        queries, k=5, nprobe=1, nprobe_top=1, nprobe_sub=1, metric="euclidean"
    ).collect():
        if r["score"] == 0.0:
            found.setdefault(r["query_id"], set()).add(r["vec_id"])
    ids = [r["vec_id"] for r in embs.select("vec_id").collect()]
    assert len(ids) == 500
    assert [i for i in ids if i not in found.get(i, set())] == []
