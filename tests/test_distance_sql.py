"""The two spellings of every metric — SQL text (``distance_sql``) and the
Column fold (``METRICS``) — give bit-identical scores, sign of zero
included, over column operands, driver-side query operands (whose cosine
norm is folded on the driver) and float-stored vectors."""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.functions import vector as V
from ydb_vector_search_demo_spark.operators.knn import vector_literal

DIM = 8
SPECIAL = [0.0, -0.0, 1e-300, -1e-300, 1e300, -1e300]
INF, NAN = float("inf"), float("nan")


def _vec(rng: random.Random) -> list[float]:
    return [rng.choice(SPECIAL) if rng.random() < 0.25 else rng.gauss(0.0, 1.0)
            for _ in range(DIM)]


def _rows(rng: random.Random, n: int = 24) -> list[tuple]:
    fixed = [[0.0] * DIM, [-0.0] * DIM, [1e300] * DIM, [1e-300] * DIM,
             [-0.0, 0.0] * (DIM // 2)]
    vecs = fixed + [_vec(rng) for _ in range(n)]
    return [(i, a, vecs[(i * 7 + 3) % len(vecs)]) for i, a in enumerate(vecs)]


def _queries(rng: random.Random) -> dict[str, list[float]]:
    q = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    return {
        "random": q,
        "special": _vec(rng),
        "zero": [0.0] * DIM,
        "neg_zero": [-0.0] * DIM,
        "nan": [NAN] + q[1:],
        "inf": q[:3] + [INF] + q[4:],
        "neg_inf": q[:-1] + [-INF],
        "huge_tiny": [1e300, 1e-300] * (DIM // 2),
        # a left-to-right sum of the squares stays 1.0; any other order
        # or an exact sum rounds up
        "accumulation": [1.0] + [2.0**-27] * (DIM - 1),
    }


def _bits(v):
    if v is None:
        return None
    if math.isnan(v):
        return "nan"
    return struct.pack(">d", v)


@pytest.mark.parametrize("seed", [0, 1])
def test_distance_sql_equals_column_fold_bit_for_bit(spark, seed):
    rng = random.Random(seed)
    df = spark.createDataFrame(
        _rows(rng), "id BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>"
    ).withColumn("af", F.col("a").cast("array<float>"))
    pairs = []  # (label, text form, Column fold)
    for metric, fold in V.METRICS.items():
        pairs.append((f"{metric}/vectors",
                      V.distance_sql("a", "b", metric), fold("a", "b")))
        for name, q in _queries(rng).items():
            lit = vector_literal(q)
            pairs += [
                (f"{metric}/query/{name}", V.distance_sql("a", q, metric), fold("a", lit)),
                (f"{metric}/query_first/{name}", V.distance_sql(q, "a", metric), fold(lit, "a")),
                (f"{metric}/float/{name}", V.distance_sql("af", q, metric), fold("af", lit)),
            ]
    cols = [F.col("id")]
    for i, (_, text, col) in enumerate(pairs):
        cols += [F.expr(text).alias(f"t{i}"), col.alias(f"c{i}")]
    rows = df.select(*cols).collect()
    assert len(rows) == 29
    mismatches = [
        (label, r["id"], r[f"t{i}"], r[f"c{i}"])
        for r in rows for i, (label, _, _) in enumerate(pairs)
        if _bits(r[f"t{i}"]) != _bits(r[f"c{i}"])
    ]
    assert mismatches == []
    # the edge values did reach the folds: NULL (zero norm), NaN, ±inf and -0.0
    seen = {_bits(r[f"t{i}"]) for r in rows for i in range(len(pairs))}
    assert {None, "nan", _bits(INF), _bits(-INF), _bits(-0.0)} <= seen


def test_distance_parses_names_and_sequences(spark):
    """``distance`` agrees between its text form (names and driver-side
    vectors) and its Column fold, and rejects an unknown metric either
    way."""
    q = [0.5, -0.25, 0.0, 1.0]
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0, 4.0])], "id BIGINT, a ARRAY<DOUBLE>")
    row = df.select(
        V.distance("a", q, "cosine").alias("text"),
        V.distance(F.col("a"), vector_literal(q), "cosine").alias("fold"),
    ).first()
    assert _bits(row["text"]) == _bits(row["fold"])
    for a, b in (("a", q), (F.col("a"), vector_literal(q))):
        with pytest.raises(ValueError, match="unknown metric"):
            V.distance(a, b, "hamming")
