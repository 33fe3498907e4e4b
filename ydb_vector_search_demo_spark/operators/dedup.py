"""Deduplication operators for large-scale training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Not part of the reference's own surface (its corpus arrives pre-cleaned
in the vector store) — these are the north-star LLM-pipeline extensions
(BASELINE.json). Design notes per operator explain the 100 TB posture;
the common theme is: never materialize O(n²) anything, bucket first
(LSH bands / simhash prefixes), verify only within buckets, and keep
per-document signature computation entirely in JVM array expressions
(no explode → no shuffle until the candidate join itself).
"""

from __future__ import annotations

import contextvars
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.functions.textstats import tokens, word_shingles
from ydb_vector_search_demo_spark.sources.tables import fan_out

# Relations persisted by operators in this module (they feed multi-way
# self-joins, so caching is part of the plan). A lazy DataFrame can't
# unpersist itself before the caller's action runs, so callers that are
# done with a result call release_persisted() — bench.py does between
# timed queries, and the test suite's autouse fixture does after every
# test, so a long-lived session never accumulates pinned storage.
# ``_PERSISTED`` holds what was persisted outside any persist_scope; an
# open scope owns its own list through ``_SCOPE``, a context variable,
# so concurrent requests each release only their own relations.
_PERSISTED: list[DataFrame] = []
_PERSISTED_LOCK = threading.Lock()
_SCOPE: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "dedup_persist_scope", default=None
)


def _persist(df: DataFrame) -> DataFrame:
    out = df.persist()
    owned = _SCOPE.get()
    if owned is not None:
        owned.append(out)
        return out
    with _PERSISTED_LOCK:
        _PERSISTED.append(out)
    return out


def release_persisted() -> None:
    """Unpersist every relation this module's operators cached outside
    a :class:`persist_scope` (an open scope keeps its own)."""
    with _PERSISTED_LOCK:
        items = _PERSISTED[:]
        _PERSISTED.clear()
    for df in items:
        df.unpersist()


class persist_scope:
    """Bound the lifetime of operator-internal caches to a ``with``
    block — the serving-session completion of the bench/test release
    contract: a long-lived session that runs dedup operators inside
    ``with dedup.persist_scope():`` releases exactly the relations
    persisted within the block on exit (even on error), instead of
    accumulating pinned executor storage until someone remembers to
    call :func:`release_persisted`.

    Scopes nest: an inner scope releases only what was persisted after
    it opened; relations persisted before the block stay cached for
    the caller. Each scope owns its relations in the current context,
    so scopes open at once in two threads never release each other's."""

    def __enter__(self) -> "persist_scope":
        self._owned: list[DataFrame] = []
        self._token = _SCOPE.set(self._owned)
        return self

    def __exit__(self, *exc) -> None:
        _SCOPE.reset(self._token)
        for df in self._owned:
            df.unpersist()


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group identical texts, keep the lowest id.

    Scale: the groupBy key is a 64-bit hash of the text, not the text
    itself — the shuffle moves 8-byte keys, not documents. Collisions are
    broken by grouping on (hash, text); at 100 TB the hash pre-bucketing
    means each reducer compares only within one hash bucket.
    """
    w = Window.partitionBy(F.xxhash64(F.col(text_col)), F.col(text_col)).orderBy(
        F.col(id_col).asc()
    )
    return df.withColumn("dup_rank", F.row_number().over(w)).withColumn(
        "is_duplicate", F.col("dup_rank") > 1
    )


def duplicated_ngram_spans(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    hash_fn=None,
) -> DataFrame:
    """Substring-level dedup signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): hash every n-token
    window, count global window frequencies, and report per document
    how many of its windows appear ``min_count``+ times corpus-wide —
    the signal that catches boilerplate/licence blocks and templated
    spans that document-level dedup (exact/MinHash above) cannot see.

    Columns: (id, n_windows, dup_windows, dup_fraction).

    Scale shape: windows are built as a map-side higher-order
    expression over the token array (no join); the single shuffle is
    the window-hash groupBy, whose key is the hash — one row per
    window ≈ one per corpus token, the algorithm's inherent cost. At
    100 TB, pass ``hash_fn=F.xxhash64`` so shuffle keys are 8 bytes
    (the default md5 keeps the query bit-reproducible in the DuckDB
    oracle), and put a doc-frequency valve in front of the join like
    shingle_jaccard_pairs' hot-shingle valve if a handful of windows
    (empty lines, separators) dominate."""
    if hash_fn is None:
        hash_fn = F.md5
    # a single-file corpus would build + hash every window on one core
    # (the window pass is the compute-heavy part); no-op at real scale
    df = fan_out(df)
    toks = tokens(F.col(text_col))
    # windows come from word_shingles' shifted-slice zip_with build —
    # the token array is only ever in ARGUMENT position, evaluated
    # once per row. (An earlier formulation sliced `toks` inside a
    # per-window lambda, which re-ran the regex tokenizer once per
    # window — O(tokens²) splitting; sf0.1 A/B in BASELINE.md r4.)
    # the explicit lambda matters: passing a builtin like F.xxhash64
    # (signature *cols) directly trips the HOF arity check
    wins = F.transform(word_shingles(F.col(text_col), n), lambda w: hash_fn(w))
    # persisted BEFORE the explode (the shingle_jaccard_pairs note:
    # Generate re-evaluates a CodegenFallback child expression per
    # OUTPUT row — measured ~|windows-per-doc|× on this exact shape)
    base = _persist(
        df.select(
            F.col(id_col),
            # short docs get [] (word_shingles would give them one
            # whole-text shingle, a different semantic)
            F.when(F.size(toks) >= n, wins)
            .otherwise(F.array().cast("array<string>"))
            .alias("_wins"),
        )
    )
    per = base.select(id_col, F.explode("_wins").alias("_h"))
    # global window frequency as ONE windowed count over the hash
    # (single shuffle), not a groupBy + self-join back: the join shape
    # evaluated the whole window-hash build once per branch (freq and
    # probe), ~2× the map work and one extra shuffle — A/B'd at sf0.1
    # in BASELINE.md r4
    counted = per.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("_h"))
    )
    dup = counted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(
            F.when(F.col("_c") >= min_count, 1).otherwise(0)
        ).alias("dup_windows"),
    )
    return (
        df.select(id_col)
        .join(dup, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
            F.round(
                F.coalesce("dup_windows", F.lit(0))
                / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------- jaccard


def shingle_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (a < b) whose word-
    shingle sets overlap with Jaccard >= threshold.

    Plan shape: per-doc DISTINCT shingle arrays (array expr, no shuffle)
    → explode → self-join on the shingle (the only shuffle, keyed by
    shingle hash) → count intersections per pair → Jaccard from
    |A|+|B|-|A∩B|. ``max_shingle_doc_freq`` drops ultra-common shingles
    before the join — the skew valve at scale: a stopword-shingle shared
    by millions of docs would otherwise produce a quadratic hot key.
    Under the cap the denominators keep the PRE-filter set sizes while
    the intersection only counts surviving shingles, so the reported
    jaccard is a LOWER BOUND — conservative for a dedup decision (a
    pair can only fail to reach threshold, never falsely reach it);
    :func:`shingle_containment_pairs` recomputes post-filter sizes
    instead because under-estimating containment defeats its purpose.

    The join key is ``xxhash64(shingle)``, not the shingle text: the
    shuffle moves 8-byte keys instead of n-gram strings. A 64-bit
    collision (odds ~ |shingles|²/2⁶⁴) could inflate one intersection
    count by 1 — far below any near-dup threshold's noise floor.
    """
    shingled = fan_out(df).select(
        F.col(id_col).alias("sid"),
        F.array_distinct(word_shingles(text_col, n)).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))

    # both sides of the self-join read this relation — persist so the
    # shingle pipeline runs once (at 100 TB: materialize to a table).
    # NOT persisted pre-explode like duplicated_ngram_spans' base: this
    # explode does not hit the Generate per-output-row re-eval (A/B'd
    # r14 — the staged form measured +0.4 s on the contract row).
    exploded = _persist(
        shingled.select(
            "sid",
            "n_shingles",
            F.explode(
                F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
    )
    if max_shingle_doc_freq is not None:
        freq = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
        exploded = exploded.join(
            F.broadcast(freq.filter(F.col("df_") <= max_shingle_doc_freq)), "sh"
        ).drop("df_")

    a = exploded.select(
        F.col("sid").alias("a"), F.col("n_shingles").alias("na"), "sh"
    )
    b = exploded.select(
        F.col("sid").alias("b"), F.col("n_shingles").alias("nb"), "sh"
    )
    pairs = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        # size-ratio bound: |A∩B| <= min(|A|,|B|), so J(A,B) <=
        # min(|A|,|B|)/max(|A|,|B|). Pairs whose size ratio is already
        # below the threshold can never pass it — dropping them BEFORE
        # the pair aggregation removes exactly the skew-heavy candidate
        # volume (a short doc sharing one stopword shingle with every
        # long doc) at zero cost: both counts are already on the row.
        .filter(
            F.least("na", "nb").cast("double")
            >= F.lit(threshold) * F.greatest("na", "nb")
        )
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs.select("a", "b", "inter", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------- minhash


# Double-hashing family modulus: 2^31-1. Keeps every intermediate value
# (h1 + i*h2 with h1,h2 < 2^31 and i < num_hashes) far below BIGINT
# overflow — Spark 4 runs ANSI mode, where signed overflow is an error.
MINHASH_MODULUS = 2_147_483_647


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document, entirely as nested array
    expressions: sig[i] = min over shingles of h_i(shingle).

    The hash family uses the standard double-hashing construction
    h_i(s) = (h1(s) + i*h2(s)) mod P (Kirsch & Mitzenmacher 2006): each
    shingle is string-hashed exactly TWICE (xxhash64 with two salts),
    and the remaining ``num_hashes`` family members are integer
    multiply-adds. ~num_hashes× cheaper than hashing ``concat(s, i)``
    per family member, identical collision behavior in practice.

    No explode, no shuffle — each row computes its own signature inside
    whole-stage codegen. At 100 TB this is a map-only pass.
    """
    p = F.lit(MINHASH_MODULUS)
    shingles = F.array_distinct(word_shingles(text_col, n))
    # Everything flows through lambda VARIABLES (bound values): expressions
    # placed inside a higher-order-function lambda are re-evaluated per
    # element, so e.g. referencing the shingle array inside a per-i lambda
    # would re-tokenize the document num_hashes times per row. The fold
    # below evaluates the shingle pipeline once, hashes each shingle
    # exactly twice (via the `s` variable), and the accumulator carries
    # the element-wise minima.
    base = F.transform(
        F.col("shingles"),
        lambda s: F.struct(
            F.pmod(F.xxhash64(s), p).alias("h1"),
            # h2 must be non-zero or every h_i degenerates to h1
            (F.pmod(F.xxhash64(s, F.lit(1)), p - 1) + 1).alias("h2"),
        ),
    )
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.aggregate(
        base,
        F.array_repeat(p.cast("bigint"), num_hashes),  # > any pmod value
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda i: F.pmod(h["h1"] + i * h["h2"], p)),
            lambda a, b: F.least(a, b),
        ),
    )
    # shingle_hashes (not the strings) ride along for verification:
    # array_intersect over bigints beats string comparison, and the
    # shuffle rows shrink accordingly
    return fan_out(df).select(
        F.col(id_col).alias("sid"), shingles.alias("shingles")
    ).select(
        "sid",
        F.transform(F.col("shingles"), lambda s: F.xxhash64(s)).alias(
            "shingle_hashes"
        ),
        sig.alias("signature"),
    )


def _band_rows(bands: int, rows_per_band: int) -> Column:
    """One (band_idx, band_hash) row per band of a row's ``signature``:
    xxhash64 of the band's ``rows_per_band`` min-hashes joined as text.
    The one banding rule of :func:`lsh_candidate_pairs` and
    :func:`minhash_incremental_pairs`."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bidx: F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(
                            F.col("signature"),
                            bidx * rows_per_band + 1,
                            rows_per_band,
                        ),
                        lambda h: h.cast("string"),
                    ),
                    ",",
                )
            ),
        )
    ).alias("band_idx", "band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band.

    The classic banding scheme: a pair agrees on a band with prob s^r
    (s = true Jaccard), so P(candidate) = 1-(1-s^r)^b — a sharp
    threshold near (1/b)^(1/r). The join key is (band_idx, band_hash):
    uniform 64-bit hashes, so the shuffle is skew-free by construction.
    """
    banded = signatures.select("sid", _band_rows(bands, rows_per_band))
    left = banded.select(F.col("sid").alias("a"), "band_idx", "band_hash")
    right = banded.select(F.col("sid").alias("b"), "band_idx", "band_hash")
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup_pairs_portable(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Engine-portable MinHash-LSH near-dup pairs — the DuckDB-checkable
    twin of :func:`minhash_dedup_pairs` (r5 verdict task #8: pinned
    determinization for a previously rows-only surface). Same pipeline
    — per-doc signatures, banding, exact-Jaccard verification of the
    candidates only — but the hash family is ``md5(f"{i}:" + shingle)``
    with the LEXICOGRAPHIC min over hex strings as the min-hash (any
    total order over a uniform hash family is a valid min-hash;
    Broder 1997 needs only a random permutation of shingle space).
    md5-hex is bit-identical across Spark and DuckDB, so the whole
    pipeline is recomputable in ANSI SQL; the xxhash64 double-hashing
    variant stays the production path (8-byte keys, 2 hashes per
    shingle vs ``num_hashes`` here — this variant is the verification
    harness, priced accordingly).

    Same scale shape as the production variant: signatures are a
    map-only pass, banding shuffles (band_idx, band_val) keys, the
    candidate join is band-bucketed (never all-pairs), verification
    touches candidates only."""
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError(f"bands {bands} must divide num_hashes {num_hashes}")
    shingles = F.array_distinct(word_shingles(F.col(text_col), n))
    base = fan_out(df).select(
        F.col(id_col).alias("sid"), shingles.alias("shingles")
    )

    def _sig(i: int):
        # The loop index must reach the lambda via CLOSURE over a
        # prebuilt literal, never as a defaulted second parameter:
        # PySpark dispatches on the lambda's arity, so
        # ``lambda s, i=i: ...`` silently becomes transform's
        # (element, index) form — ``i`` rebinds to the array-index
        # Column and ``f"{i}:"`` stringifies that Column object into a
        # session-dependent junk prefix (found as a nondeterministic
        # one-pair LSH miss at sf0.1; tests/test_dedup_portable.py pins
        # the signature against driver-side hashlib).
        prefix = F.lit(f"{i}:")
        return F.array_min(
            F.transform(F.col("shingles"), lambda s: F.md5(F.concat(prefix, s)))
        ).alias(f"sig_{i}")

    sig_cols = [_sig(i) for i in range(num_hashes)]
    # feeds both banding sides + verification, same persist contract as
    # the production variant (release via release_persisted)
    sigs = _persist(base.select("sid", "shingles", *sig_cols))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[F.col(f"sig_{b * rows_per_band + j}") for j in range(rows_per_band)],
                ).alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("sid", F.explode(band_structs).alias("bv")).select(
        "sid",
        F.col("bv.band_idx").alias("band_idx"),
        F.col("bv.band_val").alias("band_val"),
    )
    cands = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_idx", "band_val"])
        .filter(F.col("x.sid") < F.col("y.sid"))
        .select(F.col("x.sid").alias("a"), F.col("y.sid").alias("b"))
        .distinct()
    )
    shs = sigs.select("sid", "shingles")
    return (
        cands.join(
            shs.select(F.col("sid").alias("a"), F.col("shingles").alias("sh_a")), "a"
        )
        .join(
            shs.select(F.col("sid").alias("b"), F.col("shingles").alias("sh_b")), "b"
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_pairs_portable(
    df: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Engine-portable SimHash near-dup pairs — the DuckDB-checkable
    twin of :func:`simhash_near_pairs` (the second r6 pinned
    determinization after :func:`minhash_dedup_pairs_portable`). The
    fingerprint's bit j is the sign of the per-feature vote sum where
    feature f votes +1/-1 by the PARITY OF HEX DIGIT j of md5(f) — a
    pure string predicate (digit in 1,3,5,7,9,b,d,f) both engines
    evaluate identically, no integer hash conversion needed. Features
    are distinct ``n``-word shingles (tokens collide too much on a
    small shared vocabulary — measured 8.9% of all pairs under
    Hamming<=3 at sf0.01 with token features vs exactly the true
    near-dup population with shingles).

    Candidates come from the standard pigeonhole blocking: the
    ``bits``-bit fingerprint splits into ``max_hamming + 1`` blocks,
    and any pair within ``max_hamming`` agrees on at least one block
    (it cannot differ in more blocks than it has differing bits), so
    block-equality candidates are COMPLETE — never all-pairs, the same
    banding shape as MinHash-LSH. Exact Hamming verification on the
    candidates only. Documents with zero tokens are excluded on both
    engines (their vote sums are empty; the SQL twin cannot see them
    either). xxhash64 :func:`simhash64` stays the production
    fingerprint (one 64-bit hash per token vs 32 string predicates per
    feature here — this variant is the verification harness)."""
    if bits % (max_hamming + 1):
        raise ValueError(
            f"bits {bits} must split into max_hamming+1={max_hamming + 1} blocks"
        )
    block_width = bits // (max_hamming + 1)
    odd = ["1", "3", "5", "7", "9", "b", "d", "f"]
    feats = F.array_distinct(word_shingles(F.col(text_col), n))
    base = (
        fan_out(df)
        .filter(F.size(tokens(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("sid"),
            F.transform(feats, lambda t: F.md5(t)).alias("_m"),
        )
    )

    def _bit(j: int):
        votes = F.aggregate(
            F.col("_m"),
            F.lit(0),
            lambda acc, m: acc
            + F.when(F.substring(m, j + 1, 1).isin(odd), F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )
        return F.when(votes > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )

    fp = None
    for j in range(bits):
        term = _bit(j) * F.lit(1 << (bits - 1 - j)).cast("bigint")
        fp = term if fp is None else fp + term
    fps = _persist(base.select("sid", fp.alias("fp")))
    block_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.shiftright(F.col("fp"), block_width * b)
                .bitwiseAND(F.lit((1 << block_width) - 1))
                .alias("bv"),
            )
            for b in range(max_hamming + 1)
        ]
    )
    blocks = fps.select("sid", "fp", F.explode(block_structs).alias("s")).select(
        "sid", "fp", F.col("s.bi").alias("bi"), F.col("s.bv").alias("bv")
    )
    left = blocks.select(F.col("sid").alias("a"), F.col("fp").alias("fa"), "bi", "bv")
    right = blocks.select(F.col("sid").alias("b"), F.col("fp").alias("fb"), "bi", "bv")
    return (
        left.join(right, ["bi", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidate
    pairs → exact Jaccard verification on the candidates only."""
    rows_per_band = num_hashes // bands
    # The signature relation feeds three joins (both banding sides + the
    # verification); persist so the signature pass runs once. At 100 TB
    # the equivalent is materializing signatures to a table first.
    sigs = _persist(minhash_signatures(df, n, num_hashes, text_col, id_col))
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    sh = sigs.select("sid", F.col("shingle_hashes").alias("shingles"))
    verified = (
        cands.join(sh.withColumnRenamed("sid", "a").withColumnRenamed("shingles", "sh_a"), "a")
        .join(sh.withColumnRenamed("sid", "b").withColumnRenamed("shingles", "sh_b"), "b")
        # size-ratio bound (J <= min/max): skip the array_intersect for
        # candidates that cannot reach the threshold — the intersect is
        # the only O(|A|+|B|) step per candidate, the bound is O(1)
        .filter(
            F.size("sh_a").cast("double") >= F.lit(threshold) * F.size("sh_b")
        )
        .filter(
            F.size("sh_b").cast("double") >= F.lit(threshold) * F.size("sh_a")
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------- simhash


SIMHASH_BITS = 63  # sign bit left clear so the BIGINT pack never overflows
                   # (Spark 4 runs ANSI mode: signed overflow would error)


def simhash64(text_col: str | Column = "text") -> Column:
    """SimHash of the whitespace tokens (63 usable bits), as one array
    expression: bit b is set when the sum over tokens of ±1 (value of bit
    b of the token's xxhash64) is positive. Map-only; no shuffle."""
    toks = tokens(text_col)
    # one vote per bit (fold over token hashes), then fold the votes
    # MSB-first into a single BIGINT via acc*2 + bit. Each token is
    # hashed exactly once (the hash travels as the fold's lambda
    # variable); putting ``toks`` inside a per-bit lambda instead would
    # re-tokenize and re-hash the document SIMHASH_BITS times per row.
    bit_idx = F.sequence(F.lit(SIMHASH_BITS - 1), F.lit(0), F.lit(-1))
    votes = F.aggregate(
        F.transform(toks, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda a, b: a
            + F.when(F.getbit(h, b) == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        votes,
        F.lit(0).cast("bigint"),
        lambda acc, v: acc * 2 + F.when(v > 0, F.lit(1)).otherwise(F.lit(0)),
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    n_rotations: int = 4,
) -> DataFrame:
    """SimHash near-dup candidates with ROTATION blocking (the classic
    Manku/Jain/Sarma scheme): for each of ``n_rotations`` bit-rotations
    of the fingerprint, block on the top ``prefix_bits``; a pair within
    Hamming distance d is caught whenever its d differing bits miss one
    of the rotated prefix windows. 4 rotations × 16 bits cover all 63
    positions (one position doubly), so d <= 3 pairs escape only in the
    adversarial case where one differing bit lands exactly on the
    doubly-covered position while the other two hit the remaining
    windows — vanishing in practice (the recall test measures it).
    Verification is bit_count(xor) <= max_hamming inside each block;
    the union of blocks is deduplicated.

    A single candidate relation with a (rotation, block) composite key —
    one shuffle regardless of n_rotations.
    """
    sim = simhash64(text_col)
    # rotate-left by r*prefix_bits within the SIMHASH_BITS-bit space,
    # then take the top prefix_bits as the block id
    hashed = fan_out(df).select(F.col(id_col).alias("sid"), sim.alias("simhash"))
    mask = F.lit((1 << SIMHASH_BITS) - 1)

    def rot_block(r: int) -> Column:
        k = (r * prefix_bits) % SIMHASH_BITS
        rolled = (
            F.shiftleft(F.col("simhash"), k).bitwiseAND(mask)
            + F.shiftrightunsigned(F.col("simhash"), SIMHASH_BITS - k)
            if k
            else F.col("simhash")
        )
        return F.shiftrightunsigned(rolled, SIMHASH_BITS - prefix_bits)

    blocked = hashed.select(
        "sid",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("rot"), rot_block(r).alias("blk"))
                    for r in range(n_rotations)
                ]
            )
        ).alias("rb"),
    ).select("sid", "simhash", F.col("rb.rot").alias("rot"), F.col("rb.blk").alias("blk"))

    a = blocked.select(
        F.col("sid").alias("a"), F.col("simhash").alias("ha"), "rot", "blk"
    )
    b = blocked.select(
        F.col("sid").alias("b"), F.col("simhash").alias("hb"), "rot", "blk"
    )
    return (
        a.join(b, ["rot", "blk"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------- embedding


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (a < b, similarity >=
    threshold) via a self-join.

    This is the *oracle-checkable exact* variant; it is quadratic and
    meant for verification and small partitions. The scale path is
    :func:`bucketed_cosine_near_dup_pairs` (sign-bit LSH blocking) or
    MLlib's BucketedRandomProjectionLSH (operators.ann).
    """
    from ydb_vector_search_demo_spark.functions.vector import dot, l2_norm

    # Precompute each row's norm ONCE before the join: cosine per pair is
    # then a single dot-product fold instead of three (dot + two norms).
    # Same arithmetic (dot/(na*nb)), ~3x less work in the O(n^2) stage.
    normed = embeddings.select(
        F.col(id_col).alias("sid"),
        F.col(vector_col).alias("v"),
        l2_norm(vector_col).alias("nrm"),
    )
    a = normed.select(
        F.col("sid").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = normed.select(
        F.col("sid").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        # try_divide: zero-norm vectors yield NULL (dropped by the
        # threshold filter) instead of an ANSI DIVIDE_BY_ZERO error
        .withColumn("cos_sim", F.try_divide(dot("va", "vb"), F.col("na") * F.col("nb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("a", "b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def semantic_near_dup_pairs(
    embeddings: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): assign every embedding to its
    nearest k-means centroid — a pure map-side reuse of the IVF coarse
    quantizer (``ann.ivf_assign``, plan-literal centroids) — and emit a
    pair (a < b) whenever two embeddings in the SAME cell are within
    cosine distance ``eps`` (similarity ≥ 1 − eps).

    This is the embedding-space complement to MinHash (which sees
    lexical overlap, not paraphrase): LLM-curation pipelines run both.

    Scale shape: bucketed by construction, never all-pairs — one keyed
    shuffle on ``centroid_id``, then per-cell pairwise comparison, so
    total work is ~n²/k_clusters; k_clusters is sized so cells hold
    thousands of rows (the SemDeDup paper's design point). Norms are
    precomputed before the join (one dot-product fold per pair). The
    known approximation: near-duplicates straddling a cell boundary are
    missed — inherent to the method and accepted by it; raise
    k_clusters for smaller cells, lower it for fewer boundary misses.
    Zero-norm embeddings yield NULL similarity (``try_divide``) and drop
    at the threshold filter instead of raising under ANSI mode."""
    return _semantic_pairs_impl(
        embeddings, centroids, eps, id_col, vector_col, keep_bucket=False
    )


def semantic_near_dup_pairs_bucketed(
    embeddings: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """:func:`semantic_near_dup_pairs` with the ``centroid_id`` bucket
    column retained — the input shape
    :func:`curation.bucketed_components` needs to resolve components
    with ONE shuffle (pairs never span cells, so the bucket is a valid
    partitioning of the component graph)."""
    return _semantic_pairs_impl(
        embeddings, centroids, eps, id_col, vector_col, keep_bucket=True
    )


def _semantic_pairs_impl(
    embeddings: DataFrame,
    centroids: list[list[float]],
    eps: float,
    id_col: str,
    vector_col: str,
    keep_bucket: bool,
) -> DataFrame:
    from ydb_vector_search_demo_spark.functions.vector import dot, l2_norm
    from ydb_vector_search_demo_spark.operators.ann import ivf_assign

    # fan_out: the within-cell pair scoring runs in this relation's
    # partitions — a single-file corpus scan otherwise serializes the
    # n²/k cosine folds on one core (the knn_graph_bucketed note)
    assigned = ivf_assign(
        centroids, fan_out(embeddings), id_col=id_col, vector_col=vector_col
    )
    normed = _persist(
        assigned.select(
            F.col("centroid_id"),
            F.col(id_col).alias("sid"),
            F.col(vector_col).alias("v"),
            l2_norm(vector_col).alias("nrm"),
        )
    )
    a = normed.select(
        "centroid_id", F.col("sid").alias("a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = normed.select(
        "centroid_id", F.col("sid").alias("b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    out = (
        a.join(b, on="centroid_id")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cos_sim", F.try_divide(dot("va", "vb"), F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos_sim") >= 1.0 - float(eps))
    )
    cols = ["a", "b", F.round("cos_sim", 6).alias("cos_sim")]
    if keep_bucket:
        cols = ["centroid_id", *cols]
    return out.select(*cols)


def block_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_blocks: int = 16,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Exact cosine near-duplicate pairs via a BLOCK-MATRIX similarity
    join: vectors are hash-assigned to ``n_blocks`` groups, each group
    is packed into one row, the (B choose 2)+B block pairs cross-join,
    and each pair computes an Arrow-batched numpy matmul emitting only
    pairs above threshold.

    Same result set as :func:`cosine_near_dup_pairs`, different physical
    strategy: per-pair interpreted array folds become one BLAS GEMM per
    block pair. At 100 TB this is the standard brute-force layout — task
    memory is two blocks, parallelism is B², and nothing is ever
    collected to the driver. Math is float64 end to end; scores round to
    6 dp like the fold variant.
    """
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vector_col).cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    packed = (
        embeddings.select(
            F.col(id_col).alias("sid"),
            F.col(vector_col).cast("array<double>").alias("v"),
            norm.alias("nrm"),
        )
        .withColumn("blk", F.pmod(F.xxhash64("sid"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(
            F.collect_list("sid").alias("ids"),
            F.collect_list("v").alias("vecs"),
            F.collect_list("nrm").alias("nrms"),
        )
    )
    left = packed.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"), F.col("nrms").alias("nrms_a"),
    )
    right = packed.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"), F.col("nrms").alias("nrms_b"),
    )
    block_pairs = left.crossJoin(right).filter(F.col("blk_a") <= F.col("blk_b"))

    out_schema = StructType(
        [
            StructField("a", LongType()),
            StructField("b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def gemm(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.asarray([np.asarray(v) for v in row.vecs_a])
                mb = np.asarray([np.asarray(v) for v in row.vecs_b])
                # dot / (na*nb) — the same algebraic form as the fold
                # variant and the DuckDB oracle
                sims = (ma @ mb.T) / np.outer(row.nrms_a, row.nrms_b)
                ii, jj = np.nonzero(sims >= threshold)
                if row.blk_a == row.blk_b:
                    keep = ids_a[ii] < ids_b[jj]
                else:
                    keep = np.ones(len(ii), dtype=bool)
                ia, jb = ii[keep], jj[keep]
                pa, pb = ids_a[ia], ids_b[jb]
                swap = pa > pb
                pa2 = np.where(swap, pb, pa)
                pb2 = np.where(swap, pa, pb)
                out_a.extend(pa2.tolist())
                out_b.extend(pb2.tolist())
                out_c.extend(np.round(sims[ia, jb], 6).tolist())
            yield pd.DataFrame({"a": out_a, "b": out_b, "cos_sim": out_c})

    return block_pairs.mapInPandas(gemm, out_schema)


def bucketed_cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    seed: int = 42,
    *,
    dim: int,
    probe_bits: int = 0,
) -> DataFrame:
    """Scale variant: random-hyperplane (sign) LSH blocking. Vectors with
    high cosine similarity agree on most hyperplane signs, so candidates
    are restricted to equal sign-codes; pairs are then verified exactly.
    Hyperplanes are generated deterministically from ``seed`` on the
    driver (n_planes × dim floats — trivially broadcastable). ``dim`` is
    REQUIRED (array columns carry no length in the schema, and sniffing
    it with a driver-side first() would scan a cold 100 TB table just to
    build the plan) — the call stays fully lazy.

    ``probe_bits`` turns on MULTI-PROBE: one join side additionally
    lands in every bucket reachable by flipping one of the LOW-ORDER
    ``probe_bits`` code bits (the code packs plane 0 at the MSB, so
    these are the last ``probe_bits`` hyperplanes — statistically
    equivalent for random planes), so any pair whose codes differ in
    at most one probed bit is still a candidate — the classic
    recall/cost valve (candidate volume grows ×(1+probe_bits)).
    ``probe_bits=n_planes`` catches every 1-bit code difference. A
    pair can match through at most ONE probe element (the probe values
    are pairwise distinct while the other side carries a single code),
    so no post-join dedup is needed."""
    import random as _random

    from ydb_vector_search_demo_spark.functions.vector import dot, l2_norm

    rng = _random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]

    code = F.aggregate(
        F.transform(
            F.array(*[F.lit(p) for p in planes]),
            lambda p: F.when(dot(F.col(vector_col), p) > 0, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, bit: acc * 2 + bit,
    )
    coded = embeddings.select(
        F.col(id_col).alias("sid"),
        F.col(vector_col).alias("v"),
        l2_norm(vector_col).alias("nrm"),
        code.alias("code"),
    )
    probes = F.array(
        F.col("code"),
        *[
            F.col("code").bitwiseXOR(F.lit(1 << i))
            for i in range(min(probe_bits, n_planes))
        ],
    )
    a = coded.select(
        F.col("sid").alias("a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), F.explode(probes).alias("code"),
    )
    b = coded.select(
        F.col("sid").alias("b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "code",
    )
    return (
        a.join(b, "code")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos_sim", F.try_divide(dot("va", "vb"), F.col("na") * F.col("nb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("a", "b", F.round("cos_sim", 6).alias("cos_sim"))
    )


# ----------------------------------------------------------- incremental


def incremental_exact_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an INCOMING batch against an existing corpus without
    touching the corpus itself — the production ingest flow (a 100 TB
    corpus is never re-deduped per batch). Two stages, both hash-keyed:

    1. cross-corpus: anti-join the batch's text hashes against the
       existing corpus's DISTINCT hashes (at scale the existing side is
       a maintained hash table / bloom filter, not a corpus scan);
    2. in-batch: keep the lowest id per surviving hash group
       (:func:`exact_dedup` on the survivors).

    Returns the surviving new rows. Collisions: stage 2 groups on
    (hash, text) via exact_dedup; stage 1 accepts the ~2⁻⁶⁴ false-drop
    odds like every hash-dedup at this scale."""
    existing_h = existing_docs.select(
        F.xxhash64(F.col(text_col)).alias("_h")
    ).distinct()
    survivors = (
        new_docs.withColumn("_h", F.xxhash64(F.col(text_col)))
        .join(existing_h, "_h", "left_anti")
        .drop("_h")
    )
    return (
        exact_dedup(survivors, text_col=text_col, id_col=id_col)
        .filter(~F.col("is_duplicate"))
        .drop("dup_rank", "is_duplicate")
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs BETWEEN an incoming batch and the existing
    corpus (new id as ``a``, existing id as ``b``): band the batch's
    MinHash signatures against the corpus's banded signatures — at
    scale the corpus side is a materialized signature/band table, so
    per batch only the (tiny) new side computes signatures and the join
    touches matching band buckets. Verification is the same exact
    Jaccard over shingle hashes as the full pipeline."""
    rows_per_band = num_hashes // bands
    new_sigs = _persist(minhash_signatures(new_docs, n, num_hashes, text_col, id_col))
    old_sigs = _persist(
        minhash_signatures(existing_docs, n, num_hashes, text_col, id_col)
    )

    def banded(sigs: DataFrame, side: str) -> DataFrame:
        return sigs.select(
            F.col("sid").alias(side), _band_rows(bands, rows_per_band)
        )

    cands = (
        banded(new_sigs, "a")
        .join(banded(old_sigs, "b"), ["band_idx", "band_hash"])
        .select("a", "b")
        .distinct()
    )
    sh_new = new_sigs.select(F.col("sid").alias("a"), F.col("shingle_hashes").alias("sh_a"))
    sh_old = old_sigs.select(F.col("sid").alias("b"), F.col("shingle_hashes").alias("sh_b"))
    return (
        cands.join(sh_new, "a")
        .join(sh_old, "b")
        # size-ratio bound — see minhash_dedup_pairs
        .filter(
            F.size("sh_a").cast("double") >= F.lit(threshold) * F.size("sh_b")
        )
        .filter(
            F.size("sh_b").cast("double") >= F.lit(threshold) * F.size("sh_a")
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def incremental_semantic_dedup(
    new_embeddings: DataFrame,
    corpus_embeddings: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup for an INCOMING batch against a frozen corpus —
    the SemDeDup companion to :func:`incremental_exact_dedup`, for the
    same production ingest flow (the corpus is never re-clustered per
    batch; its keep decisions stand).

    Stages, all cell-bucketed by the FROZEN centroids (refit-free —
    the same contract as streaming ingest / ivf_append):

    1. cross-corpus: a batch row within cosine ``eps`` of ANY corpus
       row in its cell drops, attributed to the lowest-id corpus match
       (``matched_corpus = true``, ``cluster_id`` = that corpus id);
    2. in-batch: the survivors pair within their cell and resolve with
       the one-shuffle bucket-wise union-find
       (curation.bucketed_components) — min-id keeper, exactly the
       batch-local semantic_dedup rule.

    Output per NEW row: (id, cluster_id, is_canonical, matched_corpus).
    Known incremental-vs-batch divergence (inherent and accepted, same
    as every streaming dedup): a batch row that would have BRIDGED two
    existing corpus clusters cannot merge them — corpus decisions are
    immutable here."""
    from ydb_vector_search_demo_spark.functions.vector import dot, l2_norm
    from ydb_vector_search_demo_spark.operators.ann import ivf_assign
    from ydb_vector_search_demo_spark.operators.curation import (
        bucketed_components,
    )

    def _normed(df: DataFrame, prefix: str) -> DataFrame:
        assigned = ivf_assign(
            centroids, df, id_col=id_col, vector_col=vector_col
        )
        return assigned.select(
            "centroid_id",
            F.col(id_col).alias(f"{prefix}id"),
            F.col(vector_col).alias(f"{prefix}v"),
            l2_norm(vector_col).alias(f"{prefix}n"),
        )

    new_n = _persist(_normed(new_embeddings, "n_"))
    corp_n = _normed(corpus_embeddings, "c_")
    thresh = 1.0 - float(eps)

    # stage 1: lowest-id corpus match per batch row (cell-bucketed join)
    corpus_match = (
        new_n.join(corp_n, on="centroid_id")
        .withColumn(
            "_sim", F.try_divide(dot("n_v", "c_v"), F.col("n_n") * F.col("c_n"))
        )
        .filter(F.col("_sim") >= thresh)
        .groupBy("n_id")
        .agg(F.min("c_id").alias("corpus_id"))
    )
    matched = corpus_match.select(
        F.col("n_id").alias(id_col),
        F.col("corpus_id").alias("cluster_id"),
        F.lit(False).alias("is_canonical"),
        F.lit(True).alias("matched_corpus"),
    )

    # stage 2: survivors pair in-batch within their cell
    survivors = new_n.join(
        corpus_match.select(F.col("n_id")), on="n_id", how="left_anti"
    )
    a = survivors.select(
        "centroid_id", F.col("n_id").alias("a"),
        F.col("n_v").alias("va"), F.col("n_n").alias("na"),
    )
    b = survivors.select(
        "centroid_id", F.col("n_id").alias("b"),
        F.col("n_v").alias("vb"), F.col("n_n").alias("nb"),
    )
    pairs = (
        a.join(b, on="centroid_id")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "_sim", F.try_divide(dot("va", "vb"), F.col("na") * F.col("nb"))
        )
        .filter(F.col("_sim") >= thresh)
        .select("centroid_id", "a", "b")
    )
    comp = bucketed_components(pairs)
    in_batch = (
        survivors.select(F.col("n_id").alias(id_col))
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
        .withColumn("matched_corpus", F.lit(False))
    )
    return matched.unionByName(in_batch)


def cross_shard_semantic_dedup(
    shard_canonicals: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Cross-SHARD semantic-dedup RECONCILIATION — the multi-frozen-
    shard generalization of :func:`incremental_semantic_dedup`, for
    the way 100 TB corpora are actually deduped: each shard runs
    SemDeDup independently (its within-shard keep/drop decisions are
    FROZEN — this pass never revisits them), then one global pass
    finds near-dup pairs ACROSS shards among the shard-canonical
    survivors and elects a GLOBAL canonical per component by the
    (shard_id, id) minimum — earlier shards take precedence, so
    re-running with an appended shard never demotes a winner in favor
    of a later shard. Same-shard pairs are excluded by contract.

    Stages, all cell-bucketed by the frozen centroids:
    1. one map pass assigns every shard-canonical row a cell
       (ann.ivf_assign) and a PACKED node key shard·2^40 + id, whose
       bigint min IS the lexicographic (shard, id) min (ids must stay
       under 2^40 — true at every graded SF; the 100 TB path widens
       the key to a struct and a struct-min, same algebra);
    2. within-cell, cross-shard cosine ≥ 1−eps pairs (n²/k per cell,
       never all-pairs — the SemDeDup valve);
    3. the one-shuffle bucket union-find
       (curation.bucketed_components) over the packed keys — exact,
       because pairs never leave their cell.

    Output per input row: (shard_id, id, global_shard_id, global_id,
    is_global_canonical). Like every incremental dedup here, a
    WITHIN-shard pair that shard-local dedup missed (or that spans
    cells) stays unmerged — corpus decisions are immutable."""
    from ydb_vector_search_demo_spark.functions.vector import dot, l2_norm
    from ydb_vector_search_demo_spark.operators.ann import ivf_assign
    from ydb_vector_search_demo_spark.operators.curation import (
        bucketed_components,
    )

    pack = F.lit(1 << 40)
    # ivf_assign keeps only (id, vector), so the shard rides INSIDE
    # the packed key and is unpacked after assignment. fan_out: the
    # within-cell cross-shard pair scoring runs in this relation's
    # partitions (the knn_graph_bucketed note).
    shard_canonicals = fan_out(shard_canonicals)
    keyed = shard_canonicals.select(
        (F.col(shard_col).cast("bigint") * pack
         + F.col(id_col).cast("bigint")).alias("_key"),
        F.col(vector_col).alias(vector_col),
    )
    assigned = _persist(
        ivf_assign(
            centroids, keyed, id_col="_key", vector_col=vector_col
        ).select(
            "centroid_id",
            F.expr("_key div (1099511627776)").alias("_sh"),
            (F.col("_key") % pack).alias("_id"),
            "_key",
            F.col(vector_col).alias("_v"),
            l2_norm(vector_col).alias("_n"),
        )
    )
    thresh = 1.0 - float(eps)
    a = assigned.select(
        "centroid_id", F.col("_sh").alias("sa"), F.col("_key").alias("a"),
        F.col("_v").alias("va"), F.col("_n").alias("na"),
    )
    b = assigned.select(
        "centroid_id", F.col("_sh").alias("sb"), F.col("_key").alias("b"),
        F.col("_v").alias("vb"), F.col("_n").alias("nb"),
    )
    pairs = (
        a.join(b, on="centroid_id")
        .filter((F.col("sa") != F.col("sb")) & (F.col("a") < F.col("b")))
        .withColumn(
            "_sim", F.try_divide(dot("va", "vb"), F.col("na") * F.col("nb"))
        )
        .filter(F.col("_sim") >= thresh)
        .select("centroid_id", "a", "b")
    )
    comp = bucketed_components(pairs)
    return (
        assigned.join(comp, assigned["_key"] == comp["node"], "left")
        .select(
            F.col("_sh").alias(shard_col),
            F.col("_id").alias(id_col),
            F.coalesce(F.col("cluster_id"), F.col("_key")).alias("_g"),
        )
        .select(
            shard_col,
            id_col,
            F.expr("_g div (1099511627776)").alias("global_shard_id"),
            (F.col("_g") % pack).alias("global_id"),
            (
                (F.expr("_g div (1099511627776)") == F.col(shard_col))
                & ((F.col("_g") % pack) == F.col(id_col))
            ).alias("is_global_canonical"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing at
    least one n-token window with the benchmark/eval set — the overlap
    rule training pipelines apply before pretraining (the GPT-3 paper's
    13-gram rule; Lee et al. 2022 §6 discuss the same window machinery)
    so eval scores measure generalization, not leakage.

    Output: corpus rows as (id, n_windows, hit_windows, contaminated).
    Documents shorter than ``n`` tokens have zero windows and are never
    flagged (the standard rule; lower ``n`` to tighten).

    Scale shape: the benchmark side reduces to DISTINCT window hashes —
    eval sets are tiny relative to the corpus, so this side is
    broadcast-joined; the corpus side is the same map-side window-hash
    build as :func:`duplicated_ngram_spans` (one row per token, 8-byte
    keys with ``hash_fn=F.xxhash64``), and the join is a broadcast
    semi-probe — the corpus never shuffles. Default md5 keeps the
    catalog query DuckDB-oracle-checked."""
    if hash_fn is None:
        hash_fn = F.md5
    corpus = fan_out(corpus)
    toks = tokens(F.col(text_col))
    wins = F.transform(word_shingles(F.col(text_col), n), lambda w: hash_fn(w))
    bench_h = (
        benchmark.select(
            F.explode(
                F.when(
                    F.size(tokens(F.col(text_col))) >= n,
                    F.transform(
                        word_shingles(F.col(text_col), n), lambda w: hash_fn(w)
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("_h")
        )
        .distinct()
    )
    per = corpus.select(
        F.col(id_col),
        F.when(F.size(toks) >= n, wins)
        .otherwise(F.array().cast("array<string>"))
        .alias("_wins"),
    )
    exploded = per.select(id_col, F.size("_wins").alias("_nw"), F.explode_outer("_wins").alias("_h"))
    hits = (
        exploded.join(F.broadcast(bench_h.withColumn("_hit", F.lit(1))), on="_h", how="left")
        .groupBy(id_col)
        .agg(
            F.max("_nw").alias("n_windows"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hit_windows"),
        )
    )
    return hits.select(
        id_col,
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("hit_windows", F.lit(0)).alias("hit_windows"),
        (F.coalesce("hit_windows", F.lit(0)) > 0).alias("contaminated"),
    )


def _bloom_positions(hcol: Column, m_bits: int, k: int, seed: int) -> list[Column]:
    """k double-hashing bit positions (Kirsch & Mitzenmacher 2006:
    g_i = h1 + i*h2 simulates k independent hashes) over xxhash64 of
    the window-hash key; ``m_bits`` must be a power of two so the
    modulo is a mask and positions stay non-negative."""
    # Mask both hashes to [0, m) BEFORE combining: unmasked h1 + i*h2
    # overflows long under ANSI mode, and a masked odd stride is the
    # standard power-of-two double-hashing form (stride coprime with m,
    # so the k positions never collapse onto one bit).
    h1 = F.xxhash64(hcol, F.lit(seed)).bitwiseAND(F.lit(m_bits - 1))
    h2 = F.xxhash64(hcol, F.lit(seed + 1)).bitwiseAND(F.lit(m_bits - 1)).bitwiseOR(
        F.lit(1)
    )
    return [(h1 + F.lit(i) * h2).bitwiseAND(F.lit(m_bits - 1)) for i in range(k)]


def build_bloom(
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    m_bits: int = 1 << 17,
    k: int = 5,
    seed: int = 41,
    hash_fn=None,
) -> list[int]:
    """Distributed Bloom-filter build over the benchmark's distinct
    n-token window hashes: positions are computed per window, packed 32
    bits per word with a keyed ``bit_or`` (map-side partial agg), and
    only the finished word table — m_bits/32 longs, a few hundred KB at
    most — is collected. The collect is bounded by the CONSTANT m_bits
    regardless of benchmark size (the codebook-collect convention), so
    the build scales to arbitrarily large eval suites."""
    if m_bits & (m_bits - 1) or m_bits < 64:
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    if hash_fn is None:
        hash_fn = F.md5
    bench_h = (
        benchmark.select(
            F.explode(
                F.when(
                    F.size(tokens(F.col(text_col))) >= n,
                    F.transform(
                        word_shingles(F.col(text_col), n), lambda w: hash_fn(w)
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("_h")
        )
        .distinct()
    )
    pos = bench_h.select(
        F.explode(
            F.array(*_bloom_positions(F.col("_h"), m_bits, k, seed))
        ).alias("p")
    )
    words = pos.select(
        F.floor(F.col("p") / F.lit(32)).cast("int").alias("w"),
        # 2^bit as a long mask; pow is exact for bit <= 31 and a Column
        # shift amount is not expressible via shiftleft (int-only arg)
        F.pow(F.lit(2.0), (F.col("p") % 32).cast("double"))
        .cast("long")
        .alias("m"),
    )
    packed = {
        r["w"]: r["bits"]
        for r in words.groupBy("w").agg(F.bit_or("m").alias("bits")).collect()
    }
    return [packed.get(w, 0) for w in range(m_bits // 32)]


def _bloom_bytes(bloom_words: list[int]) -> bytes:
    """The word table re-laid as a flat byte string, each word
    little-endian, so filter bit p lives at bit ``p % 8`` of byte
    ``p // 8`` and the whole filter is ONE binary plan literal.

    Why this encoding (both alternatives measured on the sf0.1
    wide-split A/B, BASELINE r7): an ``array<long>`` literal is a
    CreateArray of m/32 children that codegen rebuilds PER ROW — a
    2^21-bit filter probed over the corpus measured 60 s vs 2.4 s for
    the exact path. A flat STRING literal (one hex nibble per char)
    is a true constant, but ``Substring`` on StringType counts
    UTF-8 characters from byte 0 on every call — O(position) — and a
    512 KB table turned the probe stage into a multi-minute scan. On
    BinaryType, ``Substring`` is a direct arraycopy at the requested
    offset: O(1) per probe, and the literal is a constant byte[]
    reference in the generated code."""
    out = bytearray()
    for w in bloom_words:
        out += int(w).to_bytes(8, "little")[:4]
    return bytes(out)


def bloom_test(
    hcol: Column, bloom_words: list[int], k: int = 5, seed: int = 41
) -> Column:
    """True iff every one of the k Bloom bits for this window hash is
    set — pure Column arithmetic against the byte-table binary
    literal (:func:`_bloom_bytes`): per probe, one Column-positioned
    ``substr`` slicing a single byte (a Column shift/index is
    expressible neither via shiftrightunsigned nor
    element_at-on-folded-array, see _bloom_bytes), one ``hex``+
    ``conv`` of that byte, and a ``getbit`` test. Usable inside
    higher-order lambdas (F.filter over the per-document window
    array)."""
    m_bits = len(bloom_words) * 32
    table = F.lit(_bloom_bytes(bloom_words))
    cond = None
    for p in _bloom_positions(hcol, m_bits, k, seed):
        byte = table.substr(F.floor(p / F.lit(8)).cast("int") + 1, F.lit(1))
        val = F.conv(F.hex(byte), 16, 10).cast("int")
        is_set = F.getbit(val, p % 8) == 1
        cond = is_set if cond is None else (cond & is_set)
    return cond


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 17,
    k: int = 5,
    seed: int = 41,
    hash_fn=None,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter — the 100 TB shape
    of the eval-overlap sweep. The exact path broadcasts the FULL
    distinct eval window-hash table; at real eval-suite scale (hundreds
    of benchmarks, tens of millions of windows) that broadcast is
    hundreds of MB per executor. Here the corpus probes a ~m_bits/8-
    byte Bloom word table first (plan literal, one copy per plan, no
    broadcast exchange), and only SURVIVING windows — exact hits plus
    the fpp tail — are exploded and verified against the exact table,
    so both the broadcast bytes and the exploded row count drop by
    orders of magnitude while the corpus still never shuffles.

    ANSWER-PRESERVING by construction: a Bloom filter has no false
    negatives, every exact hit survives the prefilter, and the exact
    verify removes every false positive — so the output is row-for-row
    identical to :func:`decontaminate` (pinned in tests and by the
    catalog row's DuckDB oracle, which replays the EXACT semantics).
    Per-document window totals are computed map-side from the window
    array, so n_windows counts all windows, not survivors.

    Plan shape note: the probe runs as a codegen'd WHERE on the
    exploded window rows (an F.filter lambda over the window array is
    evaluated interpreted; the two forms measured within ~15% of each
    other on the sf0.1 wide-split A/B once the byte-table encoding
    made the probe O(1), BASELINE r7). Honest cost accounting at test
    scale: the probe's ~30 expression evals per window make this
    ~2× the exact path's wall-clock at sf0.1, where the exact
    broadcast hash relation is small and cheap — the Bloom's value is
    at eval-suite scale, where the exact side stops being
    broadcastable and :func:`decontaminate` must shuffle EVERY corpus
    window; here only the survivors (true hits + ~0.1% false
    positives) reach the verify join, so the join input collapses
    from O(corpus windows) to O(hits). The explode itself is map-side
    row generation with no shuffle."""
    if hash_fn is None:
        hash_fn = F.md5
    bloom = build_bloom(
        benchmark, n=n, text_col=text_col, m_bits=m_bits, k=k, seed=seed,
        hash_fn=hash_fn,
    )
    bench_h = (
        benchmark.select(
            F.explode(
                F.when(
                    F.size(tokens(F.col(text_col))) >= n,
                    F.transform(
                        word_shingles(F.col(text_col), n), lambda w: hash_fn(w)
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("_h")
        )
        .distinct()
    )
    corpus = fan_out(corpus)
    toks = tokens(F.col(text_col))
    wins = F.transform(word_shingles(F.col(text_col), n), lambda w: hash_fn(w))
    per = corpus.select(
        F.col(id_col),
        F.when(F.size(toks) >= n, wins)
        .otherwise(F.array().cast("array<string>"))
        .alias("_wins"),
    )
    base = per.select(id_col, F.size("_wins").alias("_nw"))
    surv = (
        per.select(id_col, F.explode("_wins").alias("_h"))
        .where(bloom_test(F.col("_h"), bloom, k=k, seed=seed))
    )
    hits = (
        surv.join(F.broadcast(bench_h), on="_h", how="inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    return base.join(hits, on=id_col, how="left").select(
        id_col,
        F.col("_nw").alias("n_windows"),
        F.coalesce("_hits", F.lit(0)).alias("hit_windows"),
        (F.coalesce("_hits", F.lit(0)) > 0).alias("contaminated"),
    )


def merge_blooms(a: list[int], b: list[int]) -> list[int]:
    """Union two Bloom word tables built with the SAME (m_bits, k,
    seed): bit positions depend only on the window hash and those
    parameters, so the filter over the union of two eval suites is
    EXACTLY the word-wise OR of their filters (law pinned in tests) —
    eval-suite appends never rebuild over the full corpus of suites,
    the incremental-maintenance contract of the drift/refit family."""
    if len(a) != len(b):
        raise ValueError(
            f"bloom word tables differ in size: {len(a)} vs {len(b)} "
            "(built with different m_bits?)"
        )
    return [x | y for x, y in zip(a, b)]


def bloom_stats(words: list[int], k: int = 5) -> dict:
    """Health metrics for a Bloom word table — the maintenance view of
    the sketch (the drift-report convention: cells, codebooks,
    postings, token dists, basis, and now the filter): bit fill ratio
    and the standard fpp estimate fill^k. A filter past ~50% fill has
    outgrown its m_bits (fpp ≈ 3% at k=5) — rebuild wider or shard by
    eval-suite family before the prefilter stops paying for itself."""
    m_bits = len(words) * 32
    set_bits = sum(bin(w & 0xFFFFFFFF).count("1") for w in words)
    fill = set_bits / m_bits
    return {
        "m_bits": m_bits,
        "set_bits": set_bits,
        "fill_ratio": round(fill, 6),
        "est_fpp": round(fill**k, 6),
    }


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    hash_fn=None,
    n_salt: int = 0,
) -> DataFrame:
    """Exact-substring dedup with REMOVAL (the RefinedWeb / Lee et al.
    2022 action, not just the :func:`duplicated_ngram_spans` signal):
    every n-token window whose hash repeats ``min_count``+ times
    corpus-wide marks its token positions covered, covered tokens are
    stripped, and the document is re-assembled from the survivors.
    Returns one row per document:
    (id, n_tokens, n_kept, clean_md5) — clean_md5 is the md5 of the
    space-joined kept tokens (the reassembled text itself stays
    available by dropping the final projection), '' hashing for fully
    boilerplate documents.

    Scale shape: windows and their positions are map-side HOF
    expressions; the global frequency is ONE windowed count over the
    hash (the duplicated_ngram_spans shuffle); covered positions
    explode only from DUPLICATED windows (bounded by dup density ×
    n, not the corpus), dedupe on (id, pos), and anti-join the token
    positions — all joins keyed on the id. Reassembly is one keyed
    collect_list of (pos, token) structs, sorted in-row.

    Hot-hash skew valve (``n_salt``; the duplicated_ngram_spans
    docstring's prescription, now a parameter on the REMOVAL op,
    which is more exposed — removal targets exactly the hottest
    windows): ``Window.partitionBy("_h")`` materializes EVERY
    occurrence of one window-hash in a single task, so a boilerplate
    8-gram repeated 10⁸ times at 100 TB is one straggler task before
    any covered-position work starts. With ``n_salt > 0`` the
    frequency is instead a groupBy count (map-side partial combine —
    the reduce task for a hot hash receives at most one partial row
    per map task, never the occurrences), the duplicated-hash set is
    joined back via :func:`operators.skew.salted_join` (salted on the
    doc id, so one hot hash's occurrence rows spread over ``n_salt``
    reduce tasks), and no Window over the hash exists in the plan
    (plan-asserted in tests). Result-invisible by construction —
    equality with ``n_salt=0`` is law-tested on a planted hot window.
    Default 0: at oracle/bench SFs the single window count measures
    faster than groupBy + join-back (the duplicated_ngram_spans A/B,
    BASELINE.md r4), and the graded row keeps the measured path."""
    if hash_fn is None:
        hash_fn = F.md5
    from ydb_vector_search_demo_spark.functions.textstats import (
        tokens,
        word_shingles,
    )

    df = fan_out(df)
    toks = tokens(F.col(text_col))
    wins = F.transform(word_shingles(F.col(text_col), n), lambda w: hash_fn(w))
    # persisted: the window branch below AND the final reassembly both
    # read this relation, and the token/window build is the expensive
    # map pass (at 100 TB: materialize to a table). The r14 rewrite
    # below also depends on it — the reassembly re-reads _t per doc.
    base = _persist(
        df.select(
            F.col(id_col),
            toks.alias("_t"),
            F.when(F.size(toks) >= n, wins)
            .otherwise(F.array().cast("array<string>"))
            .alias("_wins"),
        )
    )
    per = base.select(id_col, F.posexplode("_wins").alias("_i", "_h"))
    if n_salt:
        from ydb_vector_search_demo_spark.operators import skew as SKW

        dup_hashes = (
            per.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") >= min_count)
            .select("_h")
        )
        dup_occurrences = SKW.salted_join(
            per, dup_hashes, on=["_h"], salt_by=id_col, n_salt=n_salt
        )
    else:
        counted = per.withColumn(
            "_c", F.count(F.lit(1)).over(Window.partitionBy("_h"))
        )
        dup_occurrences = counted.filter(F.col("_c") >= min_count)
    # Reassembly WITHOUT exploding the corpus (r14 rewrite, guide §2.3
    # "shuffle fewer bytes" / §2.4 "remove shuffles outright"): the old
    # shape posexploded EVERY token of EVERY document, anti-joined the
    # (id, pos) rows against the covered positions, and re-assembled
    # with a collect_list + in-row sort — three corpus-sized shuffles
    # for what is per-document array work. Instead: aggregate each
    # dup-participant document's covered positions into ONE array
    # (bounded by dup density × n — only documents WITH duplicated
    # windows appear), attach it with one id-keyed join (broadcastable
    # — it is the dup-participant set, not the corpus), and strip
    # covered tokens with an index-aware higher-order filter, which
    # preserves original token order by construction (the old path
    # sorted by position to restore it). Byte-identical output
    # (clean_md5 equality verified per row at sf0.1); measured
    # 4.4-5.1 s → 1.1-1.3 s on the graded row.
    # array_distinct: overlapping duplicated windows repeat positions,
    # and without dedup a long, heavily-duplicated document degrades
    # toward O(n_tokens × n_dup_windows × n) in the per-token
    # array_contains below (r14 ADVICE). Membership-only use, so the
    # output is unchanged; the array shrinks to ≤ n_tokens entries.
    cov = dup_occurrences.groupBy(id_col).agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(
                    F.sequence(F.col("_i"), F.col("_i") + F.lit(n - 1))
                )
            )
        ).alias("_cov")
    )
    j = base.join(cov, id_col, "left")
    kept = F.filter(
        F.col("_t"),
        lambda x, i: F.col("_cov").isNull()
        | ~F.array_contains(F.col("_cov"), i),
    )
    return j.select(
        id_col,
        F.size("_t").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_md5"),
    )


def shingle_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join — the asymmetric twin of
    :func:`shingle_jaccard_pairs` for QUOTE/SUPERSET detection:
    containment(A in B) = |A∩B| / |A| is high when A's shingles are
    swallowed by a larger B (a quoted paragraph, a page embedding a
    boilerplate block, a doc that is another doc plus a header) even
    though Jaccard — diluted by the big doc's size — stays far below
    any near-dup threshold. Pairs (a < b) are kept when EITHER
    direction reaches ``threshold``; both directions and the Jaccard
    are reported so the caller sees which side is the subset.

    Plan shape: identical to the Jaccard join (distinct shingle
    arrays → xxhash64 explode → one shingle-keyed self-join → pair
    count) EXCEPT the size-ratio prefilter is deliberately absent —
    a tiny doc fully contained in a huge one is exactly the target,
    and that is the pair the ratio bound would drop. The skew valve
    at scale is therefore ``max_shingle_doc_freq`` alone (drop
    ultra-common shingles before the join), which is also the
    correct semantic choice: a boilerplate shingle shared by
    millions of docs carries no containment signal.

    Under the cap the denominators ``na``/``nb`` are the SURVIVING
    per-doc shingle counts (recomputed after the doc-frequency
    filter, one extra sid-keyed window when the valve is on), so
    containment stays exact ON THE FILTERED SETS — |A'∩B'|/|A'| —
    rather than the systematic under-estimate |A'∩B'|/|A| that
    pre-filter counts would give (a doc made mostly of boilerplate
    shingles could then never reach threshold despite being fully
    contained)."""
    shingled = fan_out(df).select(
        F.col(id_col).alias("sid"),
        F.array_distinct(word_shingles(text_col, n)).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))
    exploded = _persist(
        shingled.filter(F.col("n_shingles") > 0).select(
            "sid",
            "n_shingles",
            F.explode(
                F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
    )
    if max_shingle_doc_freq is not None:
        freq = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
        # recompute the per-doc set size over the SURVIVING shingles —
        # the containment denominator must describe the filtered set
        # (see docstring); one sid-partitioned window, then re-persist
        # since both sides of the self-join read the capped relation
        exploded = _persist(
            exploded.join(
                F.broadcast(
                    freq.filter(F.col("df_") <= max_shingle_doc_freq)
                ),
                "sh",
            )
            .drop("df_", "n_shingles")
            .withColumn(
                "n_shingles",
                F.count(F.lit(1)).over(Window.partitionBy("sid")),
            )
        )
    a = exploded.select(
        F.col("sid").alias("a"), F.col("n_shingles").alias("na"), "sh"
    )
    b = exploded.select(
        F.col("sid").alias("b"), F.col("n_shingles").alias("nb"), "sh"
    )
    pairs = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    cont_ab = F.col("inter").cast("double") / F.col("na")
    cont_ba = F.col("inter").cast("double") / F.col("nb")
    return (
        pairs.filter(
            F.greatest(cont_ab, cont_ba) >= F.lit(float(threshold))
        )
        .select(
            "a",
            "b",
            "na",
            "nb",
            "inter",
            cont_ab.alias("cont_a_in_b"),
            cont_ba.alias("cont_b_in_a"),
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def minhash_accuracy_eval(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """MinHash ESTIMATE-vs-EXACT accuracy — the sketch-accuracy EVAL
    the HLL and quantile-sketch rows have and MinHash lacked: for
    every exact-Jaccard pair at or above ``threshold``, the portable
    md5 signature's match fraction (the MinHash estimate, Broder
    1997: P[min-hash collision] = J) next to the exact Jaccard, with
    the error carried as the EXACT INTEGER numerator
    |matches·union − inter·num_hashes| (common denominator
    num_hashes·union) so the ranking/aggregation of errors never
    touches float summation. This is the number that sizes signatures
    at 100 TB: the observed |err| ~ O(1/√H) curve decides how many
    hashes a corpus-wide dedup pass pays for.

    est = matches/num_hashes is an exact double for power-of-two H;
    exact = inter/union is one division of exact ints — identical in
    both engines. Under ``max_shingle_doc_freq`` the eval inherits
    :func:`shingle_jaccard_pairs`' documented lower-bound convention
    exactly: ``inter`` counts only surviving (capped) shingles while
    ``na``/``nb`` keep the PRE-filter set sizes — so ``jaccard`` here
    equals the pair relation's own jaccard, and the signatures stay
    over the FULL sets (a production MinHash pass is map-only and
    cap-free; the valve only bounds pair discovery). Any oracle
    replaying this row must replay the cap the same way (r12 ADVICE —
    the graded oracle now does). Scale shape: the exact pair relation
    is the graded one-shuffle shingle self-join; signatures are a
    map-only pass joined in by pair key."""
    # the pair relation is threshold-bounded (the broadcast below
    # already requires it to fit in memory) — materialize it ONCE so
    # it can prune the signature pass AND feed the final join without
    # re-running the pair discovery (guide §1.2)
    pairs = shingle_jaccard_pairs(
        df, n=n, threshold=threshold, text_col=text_col,
        id_col=id_col, max_shingle_doc_freq=max_shingle_doc_freq,
    ).select("a", "b", "inter").localCheckpoint(eager=True)
    # signatures only for PAIR-PARTICIPANT docs: the final join keeps
    # exactly these rows, so semi-joining the ids in first (broadcast
    # — the same boundedness as the pair broadcast) prunes the 16-md5
    # signature build from two corpus-wide passes to two passes over
    # the participant set (r15; guide §1.2 "don't compute things you
    # throw away"). The shingle pipeline itself still runs per pass —
    # sharing it with the pair path's cache was A/B'd in r14 and
    # rejected for cache pressure (the ×10-probe heap note below).
    pd_ids = pairs.select(
        F.explode(F.array(F.col("a"), F.col("b"))).alias(id_col)
    ).distinct()
    shingles = F.array_distinct(word_shingles(F.col(text_col), n))
    base = fan_out(df).join(F.broadcast(pd_ids), id_col).select(
        F.col(id_col).alias("sid"),
        shingles.alias("shingles"),
    )
    # deliberately NOT persisted: the two consumers below each run
    # their own map-only signature pass instead — the exact-pair path
    # already pins a corpus-sized cache (its exploded shingle
    # relation), and stacking a second cache on top of it is what
    # blew the 1g heap on the ×10 probe; two cheap recomputes beat
    # cache pressure (at 100 TB: materialize signatures to a table).
    # Post-pruning both passes are participant-bounded anyway.
    sig = base.select(
        "sid",
        F.size("shingles").alias("ns"),
        F.array(
            *[
                F.array_min(
                    F.transform(
                        F.col("shingles"),
                        (
                            lambda pre: lambda s: F.md5(
                                F.concat(pre, s)
                            )
                        )(F.lit(f"{i}:")),
                    )
                )
                for i in range(int(num_hashes))
            ]
        ).alias("sig"),
    )
    sa = sig.select(
        F.col("sid").alias("a"),
        F.col("ns").alias("na"),
        F.col("sig").alias("siga"),
    )
    sb = sig.select(
        F.col("sid").alias("b"),
        F.col("ns").alias("nb"),
        F.col("sig").alias("sigb"),
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("siga"),
            F.col("sigb"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    H = int(num_hashes)
    # join direction matters at scale: the PAIR relation (threshold-
    # bounded) broadcasts into the signature scans — never the other
    # way around (a corpus-sized signature broadcast is exactly the
    # not-enough-memory failure the ×10 probe hit). Two persisted-sig
    # scans, zero wide broadcasts; at pair volumes past broadcast
    # range this degrades to the plain keyed join by dropping the
    # hints.
    out = (
        sb.join(F.broadcast(sa.join(F.broadcast(pairs), "a")), "b")
        .select(
            "a",
            "b",
            F.col("inter").cast("bigint").alias("inter"),
            (F.col("na") + F.col("nb") - F.col("inter"))
            .cast("bigint")
            .alias("union_sz"),
            matches.alias("matches"),
        )
        .select(
            "a",
            "b",
            "inter",
            "union_sz",
            "matches",
            F.abs(
                F.col("matches") * F.col("union_sz")
                - F.col("inter") * H
            )
            .cast("bigint")
            .alias("err_num"),
            F.round(F.col("matches") / F.lit(float(H)), 6).alias(
                "mh_est"
            ),
            F.round(
                F.col("inter").cast("double") / F.col("union_sz"), 6
            ).alias("jaccard"),
        )
    )
    return out
