"""Dense-vector distance/similarity expressions (SURVEY.md §2.2 V3).

The reference delegates distance computation to the store's server-side
``Knn::*`` functions behind ``similarity_search_by_vector_with_score``
(/root/reference/app.py:124); its public strategy surface offers cosine
similarity/distance, inner product, Euclidean and Manhattan. Here each
metric is a fold over Spark's higher-order array functions
(``zip_with``/``aggregate``/``transform``) — JVM-side, no UDF, fully
inside whole-stage codegen, so a distance scan over 100 TB of
``ARRAY<FLOAT>`` never leaves Tungsten.

Each metric exists in two spellings of the same fold:

* :func:`distance_sql` renders it as SQL text over column names and
  driver-side sequences (one array literal each, :func:`_sql_literal`).
  ``distance`` parses it in one ``F.expr`` call, where the Column form
  costs ~90 py4j calls; a serving statement (``pipeline.rag``) embeds the
  text directly. Against a sequence, cosine takes the sequence's norm
  folded on the driver in the same order and bound as one literal.
* The Column functions below (:data:`METRICS`) fold arbitrary Column
  operands: codec prefixes, dequantized or rotated vectors.

Both spellings give bit-identical scores (tests/test_distance_sql.py).
All math is done in DOUBLE regardless of the storage element type
(float32 on disk) so results are reproducible against the DuckDB oracle
(SURVEY.md §7.4): elements are cast to double *before* any arithmetic,
and folds run sequentially left-to-right, matching DuckDB's list
functions to the last ulp in practice.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_double_array(col: ColumnOrName) -> Column:
    """Cast array<float> → array<double> element-wise (no-op on doubles)."""
    return _c(col).cast("array<double>")


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Inner product ⟨a,b⟩ as a sequential left-to-right double fold."""
    prods = F.zip_with(to_double_array(a), to_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def l1_norm(a: ColumnOrName) -> Column:
    arr = F.transform(to_double_array(a), lambda x: F.abs(x))
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """NULL when either vector has zero norm — a plain division would be
    an ANSI DIVIDE_BY_ZERO *error* under Spark 4, so one degenerate
    embedding in a 100 TB corpus would kill the whole scan. Top-k code
    sorts nulls last (knn_scores), matching DuckDB where 0/0 → NaN
    sorts last ascending."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """1 - cosine similarity. Lower is better — the reference's score
    convention (lower = more relevant, /root/reference/static/js/script.js:222)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    diffs = F.zip_with(
        to_double_array(a), to_double_array(b), lambda x, y: (x - y) * (x - y)
    )
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))


def manhattan_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    diffs = F.zip_with(to_double_array(a), to_double_array(b), lambda x, y: F.abs(x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def inner_product_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Negated inner product, so that for every metric 'lower is better'
    holds and top-k code can uniformly sort ascending."""
    return -dot(a, b)


# Metric registry: name -> (distance_expr, lower_is_better is always True)
METRICS = {
    "cosine": cosine_distance,
    "euclidean": euclidean_distance,
    "manhattan": manhattan_distance,
    "inner_product": inner_product_distance,
}


def _double_sql(x: float) -> str:
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        # a string cast is nullable; coalesce to a literal keeps the
        # element non-nullable, the type F.lit gives
        word = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
        return f"coalesce(CAST('{word}' AS DOUBLE), 0D)"
    return f"{x!r}D"


def _sql_literal(x, integers: bool = False) -> str:
    """A driver-side value as SQL text: nested sequences as nested
    ``array(...)``, leaves as doubles (``repr`` is the shortest decimal
    that round-trips, so each parses back to the identical double) or,
    with ``integers``, as whole numbers."""
    if isinstance(x, (list, tuple)):
        return "array(" + ", ".join(_sql_literal(e, integers) for e in x) + ")"
    return str(int(x)) if integers else _double_sql(x)


def _name_sql(name: str) -> str:
    """A column name as ``F.col`` reads it: dots separate struct fields,
    and a name that already carries backticks is taken as written."""
    if "`" in name:
        return name
    return ".".join(f"`{part}`" for part in name.split("."))


# Operand of distance_sql: a column name or a driver-side vector.
NameOrSequence = str | Sequence[float]


def _array_sql(x: NameOrSequence) -> str:
    body = _name_sql(x) if isinstance(x, str) else _sql_literal([float(v) for v in x])
    return f"CAST({body} AS array<double>)"


def _fold_sql(a: NameOrSequence, b: NameOrSequence, term: str) -> str:
    """``term`` over the pairs (x, y) of ``a`` and ``b``, summed left to
    right from 0 — the fold of :func:`dot` and the distances above."""
    return (
        f"aggregate(zip_with({_array_sql(a)}, {_array_sql(b)}, (x, y) -> {term}), "
        "0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: NameOrSequence) -> str:
    """:func:`l2_norm`; a driver-side vector's norm is folded here in the
    same order (a sequential float sum, then the correctly rounded
    square root) and bound as one literal."""
    if isinstance(a, str):
        return f"sqrt({_fold_sql(a, a, 'x * y')})"
    total = 0.0
    for v in a:
        total += float(v) * float(v)
    return _double_sql(math.sqrt(total))


def dot_sql(a: NameOrSequence, b: NameOrSequence) -> str:
    """:func:`dot` as SQL text."""
    return _fold_sql(a, b, "x * y")


def distance_sql(a: NameOrSequence, b: NameOrSequence, metric: str = "cosine") -> str:
    """The named metric's distance as SQL text, each operand a column
    name or a driver-side vector; the same fold, in the same order, as
    the Column function in :data:`METRICS`."""
    if metric == "cosine":
        return f"1D - try_divide({dot_sql(a, b)}, {_norm_sql(a)} * {_norm_sql(b)})"
    if metric == "euclidean":
        return f"sqrt({_fold_sql(a, b, '(x - y) * (x - y)')})"
    if metric == "manhattan":
        return _fold_sql(a, b, "abs(x - y)")
    if metric == "inner_product":
        return f"-({dot_sql(a, b)})"
    raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}")


def distance(
    a: ColumnOrName | Sequence[float], b: ColumnOrName | Sequence[float],
    metric: str = "cosine",
) -> Column:
    """Distance under the named metric; ascending order == most similar first.

    Names and driver-side vectors are parsed from :func:`distance_sql`
    in one call; once an operand is a Column (a codec prefix, a
    dequantized or rotated vector), both take the Column fold.

    Mirrors the pluggable-strategy requirement of SURVEY.md §7.4 (the
    reference deployment yields a distance — lower is better)."""
    if not isinstance(a, Column) and not isinstance(b, Column):
        return F.expr(distance_sql(a, b, metric))
    try:
        return METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}") from None


def portable_embed_expr(col: ColumnOrName, dim: int = 8) -> Column:
    """Engine-portable text embedding (determinization harness, the
    md5-family pattern of dedup.minhash_dedup_pairs_portable applied to
    dense vectors): dimension ``i`` is md5(f"{i}:" + text)'s leading 8
    hex digits scaled to [-1, 1) — ``conv`` here, ``('0x'||hex)::BIGINT``
    in DuckDB, bit-identical — so a chunk → embed → score → reduce
    dataflow can run under a FULL SQL oracle. NOT a semantic model: the
    pandas-UDF model seam (pipeline.rag.embed_texts_udf) stays the
    production path; this exercises the distributed plumbing with an
    embedding both engines recompute independently. Pure Columns —
    ``dim`` md5 calls per row inside whole-stage codegen, no Python."""
    c = _c(col)
    dims = [
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), c)), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
        * F.lit(2.0)
        - F.lit(1.0)
        for i in range(dim)
    ]
    return F.array(*dims)


def portable_embed(text: str, dim: int = 8) -> list[float]:
    """Driver-side twin of :func:`portable_embed_expr` (hashlib md5,
    same scale arithmetic in the same order) for inlining query vectors
    as plan/SQL literals."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}:{text}".encode("utf-8")).hexdigest()[:8], 16)
        / 4294967296.0
        * 2.0
        - 1.0
        for i in range(dim)
    ]
