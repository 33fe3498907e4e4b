"""Operator-level tests for the as-of join, session windows, stateful
streaming, and the double-hashed MinHash family — semantics that the
oracle-parity test either can't express (streaming, engine-specific
hashes) or that deserve an independent brute-force check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from ydb_vector_search_demo_spark.operators.asof import as_of_join
from ydb_vector_search_demo_spark.operators.dedup import minhash_signatures
from ydb_vector_search_demo_spark.sources.tables import load_table


def test_asof_join_matches_bruteforce(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    got = {
        r["event_id"]: r["matched_ts"]
        for r in as_of_join(
            left, right, "user_id", "ts", "ts", ["v"]
        ).collect()
    }

    # brute force on the driver (smoke sf is small)
    rights = {}
    for r in right.collect():
        rights.setdefault(r["user_id"], []).append(r["ts"])
    expected = {}
    for r in left.collect():
        cands = [t for t in rights.get(r["user_id"], []) if t <= r["ts"]]
        expected[r["event_id"]] = max(cands) if cands else None

    assert got == expected


def test_asof_join_strict_excludes_equal_ts(spark):
    rows = [(1, 10, 100), (1, 20, 200)]
    right = spark.createDataFrame(rows, "k INT, t INT, v INT")
    left = spark.createDataFrame([(1, 20)], "k INT, t INT")
    incl = as_of_join(left, right, "k", "t", "t", ["v"], inclusive=True).collect()
    strict = as_of_join(left, right, "k", "t", "t", ["v"], inclusive=False).collect()
    assert incl[0]["matched_v"] == 200
    assert strict[0]["matched_v"] == 100


def test_session_window_consistent_with_sessionize(spark):
    from ydb_vector_search_demo_spark.streaming import events as EV

    ev = load_table(spark, SF_SMOKE, "events")
    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    classic = (
        EV.sessionize(ev, gap_minutes=30)
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("n_sessions"))
    )
    n = {r["user_id"]: r["n_sessions"] for r in native.collect()}
    c = {r["user_id"]: r["n_sessions"] for r in classic.collect()}
    assert n == c


def test_stateful_streaming_counts_equal_batch(spark):
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES

    got = {
        r["user_id"]: r["n_events"]
        for r in QUERIES["streaming_stateful_user_counts"](spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    expected = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected


def test_block_batch_knn_equals_broadcast_batch_knn(spark):
    from ydb_vector_search_demo_spark.operators.knn import batch_knn, block_batch_knn
    from ydb_vector_search_demo_spark.pipeline.rag import embed_query_stub

    embs = load_table(spark, SF_SMOKE, "embeddings")
    qvs = [embed_query_stub(t) for t in ("alpha beta", "gamma delta", "epsilon")]
    qdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvs)], "query_id INT, query_vec ARRAY<DOUBLE>"
    )
    a = sorted(
        (r["query_id"], r["rank"], r["vec_id"], round(r["score"], 9))
        for r in batch_knn(qdf, embs, k=4).collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["vec_id"], round(r["score"], 9))
        for r in block_batch_knn(qdf, embs, k=4, n_blocks=4, n_query_blocks=2).collect()
    )
    assert a == b


def test_block_cosine_equals_fold(spark):
    from ydb_vector_search_demo_spark.operators.dedup import (
        block_cosine_pairs,
        cosine_near_dup_pairs,
    )

    embs = load_table(spark, SF_SMOKE, "embeddings")
    blk = sorted(tuple(r) for r in block_cosine_pairs(embs, 0.3, n_blocks=4).collect())
    fold = sorted(tuple(r) for r in cosine_near_dup_pairs(embs, 0.3).collect())
    assert blk == fold
    assert len(blk) > 0


def test_load_table_rejects_unknown_name(spark):
    import pytest as _pytest

    from ydb_vector_search_demo_spark.sources.tables import load_table as lt

    with _pytest.raises(ValueError, match="unknown table"):
        lt(spark, SF_SMOKE, "nope")


def test_asof_forward_direction(spark):
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 200), (1, 30, 300)], "k INT, t INT, v INT"
    )
    left = spark.createDataFrame([(1, 15), (1, 20), (1, 35)], "k INT, t INT")
    fwd = {
        (r["k"], r["t"]): r["matched_v"]
        for r in as_of_join(
            left, right, "k", "t", "t", ["v"], direction="forward"
        ).collect()
    }
    # earliest right at-or-after each left ts; none after 35
    assert fwd == {(1, 15): 200, (1, 20): 200, (1, 35): None}
    strict = {
        r["t"]: r["matched_v"]
        for r in as_of_join(
            left, right, "k", "t", "t", ["v"],
            direction="forward", inclusive=False,
        ).collect()
    }
    assert strict[20] == 300  # strictly after 20


def test_simhash_rotation_blocking_full_recall(spark):
    """Rotated blocking must find every pair the brute-force Hamming
    scan finds at the smoke scale (the single-prefix scheme misses
    pairs whose differing bits fall inside the prefix window)."""
    from ydb_vector_search_demo_spark.operators.dedup import (
        simhash64,
        simhash_near_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        (r["a"], r["b"])
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    hashes = {
        r["sid"]: r["h"]
        for r in docs.select(
            F.col("doc_id").alias("sid"), simhash64("text").alias("h")
        ).collect()
    }
    ids = sorted(hashes)
    expected = {
        (x, y)
        for i, x in enumerate(ids)
        for y in ids[i + 1 :]
        if bin(hashes[x] ^ hashes[y]).count("1") <= 3
    }
    assert got == expected


def test_minhash_estimates_jaccard(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    c = "completely different words with nothing shared at all whatsoever here"
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id BIGINT, text STRING"
    )
    sigs = {
        r["sid"]: r["signature"]
        for r in minhash_signatures(df, n=3, num_hashes=128).collect()
    }
    assert all(len(s) == 128 for s in sigs.values())

    def est(x, y):
        return sum(1 for i, j in zip(x, y) if i == j) / len(x)

    sim_ab = est(sigs[0], sigs[1])
    sim_ac = est(sigs[0], sigs[2])
    # true jaccard(a,b) for 3-shingles of 13 tokens differing in the last
    # token: 8 shared of 14 distinct ≈ 0.57; jaccard(a,c) = 0.
    assert 0.3 < sim_ab < 0.85
    assert sim_ac < 0.1


def test_jaccard_hot_shingle_valve(spark):
    """The max_shingle_doc_freq valve must (a) change nothing when the
    cap exceeds every observed doc-frequency and (b) drop a corpus-wide
    stopword shingle from the self-join, keeping the candidate stage
    sub-quadratic on skewed corpora."""
    from ydb_vector_search_demo_spark.operators.dedup import (
        release_persisted, shingle_jaccard_pairs,
    )

    # every doc shares the hot 3-shingle "aaa bbb ccc"; only doc pairs
    # (2i, 2i+1) also share a second, rare shingle
    docs = []
    for i in range(20):
        tail = f"tail{i // 2} x{i // 2} y{i // 2}"
        docs.append((i, f"aaa bbb ccc {tail}"))
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")

    uncapped = shingle_jaccard_pairs(df, n=3, threshold=0.1)
    high_cap = shingle_jaccard_pairs(df, n=3, threshold=0.1, max_shingle_doc_freq=1000)
    assert sorted(map(tuple, uncapped.collect())) == sorted(
        map(tuple, high_cap.collect())
    )

    # cap below the hot shingle's df=20: the stopword shingle leaves the
    # join, so only the rare-shingle pairs survive as candidates
    capped = shingle_jaccard_pairs(df, n=3, threshold=0.0, max_shingle_doc_freq=5)
    pairs = {(r["a"], r["b"]) for r in capped.collect()}
    assert pairs == {(2 * i, 2 * i + 1) for i in range(10)}
    release_persisted()


def test_connected_components_chain_and_singletons(spark):
    """A 5-node chain must collapse to one component (label propagation
    crosses the full diameter), disjoint pairs and singletons keep their
    own clusters."""
    from ydb_vector_search_demo_spark.operators.curation import dedup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id BIGINT")
    # chain 0-1-2-3-4, pair 6-7, singletons 5, 8, 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (6, 7)], "a BIGINT, b BIGINT"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(nodes, edges).collect()
    }
    assert got == {
        0: (0, 5, True), 1: (0, 5, False), 2: (0, 5, False),
        3: (0, 5, False), 4: (0, 5, False),
        5: (5, 1, True),
        6: (6, 2, True), 7: (6, 2, False),
        8: (8, 1, True), 9: (9, 1, True),
    }


def test_hash_split_is_stable_and_partition_independent(spark):
    """The salted-md5 split must not depend on partitioning or row
    order, and the train fraction must be near the target."""
    from ydb_vector_search_demo_spark.operators.curation import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id BIGINT")
    a = {r["doc_id"]: r["split"] for r in
         df.withColumn("split", hash_split(df)).collect()}
    b = {r["doc_id"]: r["split"] for r in
         df.repartition(13).withColumn("split", hash_split(df)).collect()}
    assert a == b
    train_frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.85 < train_frac < 0.95


def test_pack_sequences_respects_budget(spark):
    """Every pack's token sum stays within budget unless it is a single
    oversized row; walk order and bucket assignment are preserved."""
    from ydb_vector_search_demo_spark.operators.curation import pack_sequences

    rows = [(i, i % 3, t) for i, t in enumerate([100, 300, 200, 700, 50,
                                                 512, 1, 511, 2, 600, 10, 10])]
    df = spark.createDataFrame(rows, "doc_id BIGINT, bucket BIGINT, n_tokens INT")
    out = pack_sequences(df, budget=512).collect()
    by_pack = {}
    for r in out:
        by_pack.setdefault((r["bucket"], r["pack_id"]), []).append(r["n_tokens"])
    for (bucket, _), toks in by_pack.items():
        assert sum(toks) <= 512 or len(toks) == 1, (bucket, toks)
    # packs are contiguous in doc order within a bucket
    for b in {r["bucket"] for r in out}:
        seq = sorted((r["doc_id"], r["pack_id"]) for r in out if r["bucket"] == b)
        pids = [p for _, p in seq]
        assert pids == sorted(pids)


def test_fan_out_widens_narrow_file_scans_only(spark, tmp_path):
    from ydb_vector_search_demo_spark.sources.tables import (
        estimate_scan_partitions, fan_out,
    )

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(path)
    narrow = spark.read.parquet(path)
    # a single small file estimates to one scan partition → fan_out
    # inserts the round-robin repartition up to defaultParallelism
    assert estimate_scan_partitions(narrow) == 1
    widened = fan_out(narrow)
    assert widened is not narrow
    # .rdd here is test-side verification only; the package itself never
    # touches .rdd (that is the point of the metadata-only estimate)
    assert widened.rdd.getNumPartitions() == target
    # non-file relations (in-memory frames, post-shuffle stages) must
    # pass through untouched — and the width check itself must be
    # metadata-only (no .rdd physical planning)
    mem = spark.range(1000).repartition(target + 4)
    assert estimate_scan_partitions(mem) is None
    assert fan_out(mem) is mem


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from ydb_vector_search_demo_spark.sources.tables import compact_parquet

    src = str(tmp_path / "small_files")
    out = str(tmp_path / "compacted")
    spark.range(10_000).repartition(40).write.parquet(src)
    import glob
    assert len(glob.glob(f"{src}/*.parquet")) == 40
    n = compact_parquet(spark, src, out, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    a = spark.read.parquet(src).agg({"id": "sum"}).collect()[0][0]
    b = spark.read.parquet(out).agg({"id": "sum"}).collect()[0][0]
    assert a == b
    assert spark.read.parquet(out).count() == 10_000


def test_star_components_equal_label_propagation(spark):
    """large-star/small-star must produce the identical component map
    as min-label propagation — on a long chain (the star method's
    raison d'être: O(log n) vs O(n) rounds), on random graphs, and on
    singleton-heavy graphs."""
    import random

    from ydb_vector_search_demo_spark.operators.curation import (
        connected_components, connected_components_star,
    )

    def compare(n_nodes, edge_list):
        nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id BIGINT")
        edges = spark.createDataFrame(edge_list or [(0, 0)], "a BIGINT, b BIGINT")
        if not edge_list:
            edges = edges.filter("a != b")
        lp = {r["doc_id"]: r["cluster_id"]
              for r in connected_components(edges, nodes, max_iterations=64).collect()}
        star = {r["doc_id"]: r["cluster_id"]
                for r in connected_components_star(edges, nodes).collect()}
        assert lp == star, f"mismatch: {dict(sorted(set(lp.items()) ^ set(star.items())))}"

    # 40-node chain
    compare(40, [(i, i + 1) for i in range(39)])
    # random graph, seed-fixed
    rng = random.Random(7)
    compare(60, [(rng.randrange(60), rng.randrange(60)) for _ in range(45)])
    # two triangles + singletons
    compare(12, [(0, 1), (1, 2), (2, 0), (5, 6), (6, 7), (7, 5)])


def test_label_propagation_raises_instead_of_wrong_answer(spark):
    """Hitting the round cap without convergence must raise, never
    silently return a partially-propagated labeling (a 40-node chain
    needs 39 rounds; the default cap is 20)."""
    import pytest as _pytest

    from ydb_vector_search_demo_spark.operators.curation import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(40)], "doc_id BIGINT")
    edges = spark.createDataFrame([(i, i + 1) for i in range(39)], "a BIGINT, b BIGINT")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes)


def test_pack_oracle_matches_on_zero_and_oversized_rows(spark):
    """The recursive-CTE oracle must replay the Python walk's
    `acc > 0` guard: a zero-token doc leading a bucket followed by an
    oversized doc must NOT open a new pack (the fixture has neither
    case, so this guards the oracle directly on crafted data)."""
    import duckdb
    import pandas as pd

    from ydb_vector_search_demo_spark.operators.curation import pack_sequences
    from ydb_vector_search_demo_spark.plans.catalog import ORACLES

    texts = {0: "   ", 8: " ".join(f"w{i}" for i in range(600))}
    rows = [(i, texts.get(i, "a b c d e")) for i in range(16)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.sql(ORACLES["pack_sequences"]).fetchall()
    }

    from ydb_vector_search_demo_spark.functions.textstats import token_count
    from pyspark.sql import functions as _F

    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING").select(
        "doc_id", (_F.col("doc_id") % 8).alias("bucket"),
        token_count("text").alias("n_tokens"),
    )
    got = {
        (r["doc_id"], r["bucket"]): (r["n_tokens"], r["pack_id"])
        for r in pack_sequences(docs, budget=512).collect()
    }
    assert got == oracle
    # and the guard semantics themselves: 0-token doc + oversized doc
    # share pack 0 in bucket 0
    assert got[(0, 0)][1] == got[(8, 0)][1] == 0


def test_bucketed_cosine_multiprobe_improves_recall(spark):
    """Multi-probe (1-bit bucket flips) must return a superset of the
    single-bucket candidates, a subset of the exact pairs, and strictly
    better (or already-perfect) recall on the smoke corpus."""
    from ydb_vector_search_demo_spark.operators.dedup import (
        bucketed_cosine_near_dup_pairs, cosine_near_dup_pairs,
    )

    embs = load_table(spark, SF_SMOKE, "embeddings")
    exact = {(r["a"], r["b"]) for r in cosine_near_dup_pairs(embs, 0.3).collect()}
    plain = {
        (r["a"], r["b"])
        for r in bucketed_cosine_near_dup_pairs(embs, 0.3, n_planes=8, dim=64).collect()
    }
    probed = {
        (r["a"], r["b"])
        for r in bucketed_cosine_near_dup_pairs(
            embs, 0.3, n_planes=8, dim=64, probe_bits=8
        ).collect()
    }
    assert plain <= probed <= exact
    assert exact, "smoke corpus must contain near-dup pairs at 0.3"
    r_plain = len(plain) / len(exact)
    r_probed = len(probed) / len(exact)
    assert r_probed >= r_plain
    assert r_probed > r_plain or r_plain == 1.0


def test_minhash_incremental_equals_full_cross_pairs(spark):
    """Banding an incoming batch against the existing corpus must find
    exactly the cross-corpus pairs the full self-join pipeline finds
    (same signatures, same bands, same exact verification)."""
    from ydb_vector_search_demo_spark.operators.dedup import (
        minhash_dedup_pairs, minhash_incremental_pairs, release_persisted,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    newd = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    full = {
        (r["a"], r["b"]): r["jaccard"]
        for r in minhash_dedup_pairs(docs, threshold=0.2).collect()
    }
    cross_expected = {
        tuple(sorted(k)): v
        for k, v in full.items()
        if (k[0] % 2) != (k[1] % 2)
    }
    got = {
        tuple(sorted((r["a"], r["b"]))): r["jaccard"]
        for r in minhash_incremental_pairs(newd, old, threshold=0.2).collect()
    }
    release_persisted()
    assert got == cross_expected


def test_incremental_exact_dedup_drops_cross_and_in_batch(spark):
    from ydb_vector_search_demo_spark.operators.dedup import incremental_exact_dedup

    existing = spark.createDataFrame(
        [(0, "alpha"), (2, "beta")], "doc_id BIGINT, text STRING"
    )
    new = spark.createDataFrame(
        [(1, "alpha"),   # cross-corpus dup -> dropped
         (3, "gamma"),   # unique -> kept
         (5, "gamma"),   # in-batch dup -> dropped
         (7, "delta")],  # unique -> kept
        "doc_id BIGINT, text STRING",
    )
    kept = sorted(r["doc_id"] for r in incremental_exact_dedup(new, existing).collect())
    assert kept == [3, 7]


def test_dedup_clusters_lsh_equals_exact_path(spark):
    """The MinHash-LSH-fed cluster pipeline must produce the identical
    (doc_id, cluster_id, cluster_size, is_canonical) output as the
    exact-Jaccard-fed one: both verify candidates at exact Jaccard>=0.5
    over the same distinct-shingle sets, and LSH banding catches every
    true pair on this corpus."""
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES

    exact = {tuple(r) for r in QUERIES["dedup_clusters"](spark, SF_SMOKE).collect()}
    lsh = {tuple(r) for r in QUERIES["dedup_clusters_lsh"](spark, SF_SMOKE).collect()}
    assert exact == lsh


def test_persist_scopes_in_two_threads_release_only_their_own(spark):
    """Two threads' persist_scopes interleave (barrier-stepped): the
    first scope to exit releases only its own relation, and a
    release_persisted() call from another thread leaves an open scope's
    relation cached. No job runs: persist and unpersist are lazy."""
    import threading

    from ydb_vector_search_demo_spark.operators import dedup

    step = threading.Barrier(2)
    seen: dict = {}

    def first():
        with dedup.persist_scope():
            seen["a"] = dedup._persist(spark.range(3))
            step.wait()  # both scopes open
            step.wait()  # the second scope persisted
        step.wait()  # this scope has exited

    def second():
        step.wait()
        with dedup.persist_scope():
            seen["b"] = dedup._persist(spark.range(4))
            step.wait()
            step.wait()
            seen["b_after_other_exit"] = seen["b"].is_cached
            dedup.release_persisted()
            seen["b_after_release"] = seen["b"].is_cached
        seen["b_after_own_exit"] = seen["b"].is_cached

    threads = [threading.Thread(target=f) for f in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not seen["a"].is_cached
    assert seen["b_after_other_exit"], "the other thread's scope released it"
    assert seen["b_after_release"], "release_persisted released a scope's relation"
    assert not seen["b_after_own_exit"]
    assert str(seen["b"].storageLevel) == str(seen["a"].storageLevel)


def test_persist_scope_bounds_cache_lifetime(spark):
    """r3 verdict #8: a long-lived session running dedup operators in
    `with dedup.persist_scope():` must not accumulate pinned relations
    — the module registry is empty after each block, and nested scopes
    release only their own persists."""
    from ydb_vector_search_demo_spark.operators import dedup
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES
    from tests.conftest import SF_SMOKE

    assert len(dedup._PERSISTED) == 0
    for _ in range(3):
        with dedup.persist_scope():
            QUERIES["dedup_jaccard_pairs"](spark, SF_SMOKE).collect()
        assert len(dedup._PERSISTED) == 0, "scope leaked persisted relations"

    # nesting: outer persists survive the inner scope
    with dedup.persist_scope():
        QUERIES["dedup_jaccard_pairs"](spark, SF_SMOKE).collect()
        outer = len(dedup._PERSISTED)
        with dedup.persist_scope():
            QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
        assert len(dedup._PERSISTED) == outer, "inner scope over-released"
    assert len(dedup._PERSISTED) == 0

    # error path: the scope releases on exception too
    try:
        with dedup.persist_scope():
            QUERIES["dedup_jaccard_pairs"](spark, SF_SMOKE).collect()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert len(dedup._PERSISTED) == 0


def test_duplicated_ngram_spans_flags_planted_boilerplate(spark):
    """Two docs sharing an 8-token licence block must have exactly its
    windows flagged; a unique doc must have zero; a doc shorter than n
    must report 0 windows (not a descending-sequence explosion)."""
    from ydb_vector_search_demo_spark.operators import dedup

    boiler = "this content is licensed under the terms below"  # 8 tokens
    docs = [
        (1, boiler + " alpha beta gamma delta"),
        (2, "intro words here " + boiler),
        (3, "a completely unique document with many distinct tokens inside"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in dedup.duplicated_ngram_spans(df, n=8).collect()}
    # doc 1: 12 tokens -> 5 windows; only the pure-boilerplate window
    # (positions 1..8) repeats in doc 2
    assert out[1].n_windows == 5 and out[1].dup_windows == 1
    assert out[2].n_windows == 4 and out[2].dup_windows == 1
    assert out[3].dup_windows == 0
    assert out[4].n_windows == 0 and out[4].dup_fraction == 0.0

    # xxhash64 variant (the 8-byte-shuffle-key scale path) agrees
    from pyspark.sql import functions as F

    fast = {
        r.doc_id: (r.n_windows, r.dup_windows)
        for r in dedup.duplicated_ngram_spans(df, n=8, hash_fn=F.xxhash64).collect()
    }
    assert fast == {
        k: (v.n_windows, v.dup_windows) for k, v in out.items()
    }


def test_repetition_stats_flags_repeated_content(spark):
    from ydb_vector_search_demo_spark.functions import textstats as T

    docs = [
        (1, "spam spam spam spam ham"),                      # top token 4/5
        (2, "line one\nline one\nline two\nunique text"),    # dup lines
        (3, ""),                                             # empty
        (4, "all tokens here are different words entirely"),
    ]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in T.repetition_stats(df).collect()}
    assert out[1].top_token_fraction == 0.8
    assert out[1].n_distinct_tokens == 2
    assert out[2].n_lines == 4 and out[2].dup_line_fraction == 0.5
    assert out[3].n_tokens == 0 and out[3].dup_line_fraction == 0.0
    assert out[4].top_token_fraction == round(1 / 7, 6)
    assert out[4].distinct_token_ratio == 1.0


def test_bm25_hand_computed_score(spark):
    """Pin BM25 arithmetic on a 3-doc corpus against a hand-derived
    value (k1=1.2, b=0.75, Lucene-positive idf)."""
    import math

    from ydb_vector_search_demo_spark.operators import retrieval as R

    docs = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "durian elderberry fig grape"),
    ]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    got = {r.doc_id: r.bm25 for r in R.bm25_topk(df, ["apple"], k=3).collect()}
    # N=3, df(apple)=1, idf = ln(1 + (3-1+0.5)/1.5); doc1: tf=2, dl=3,
    # avgdl=3 -> tf_norm = 2*2.2/(2 + 1.2*(1-0.75+0.75*3/3))
    idf = math.log(1 + 2.5 / 1.5)
    expected = idf * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75))
    assert got == {1: round(expected, 6)}


def test_hybrid_rrf_rewards_dual_system_hits(spark):
    """A doc ranked by BOTH systems must outrank docs of equal single
    rank; RRF values must be exact reciprocal sums."""
    from ydb_vector_search_demo_spark.operators import retrieval as R
    from ydb_vector_search_demo_spark.plans.catalog import FLAGSHIP_QUERY, QV
    from ydb_vector_search_demo_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    embs = load_table(spark, SF_ORACLE, "embeddings")
    out = R.hybrid_rrf_topk(docs, embs, FLAGSHIP_QUERY, QV, k=20, pool=20).collect()
    for r in out:
        exp = 0.0
        if r.lex_rank is not None:
            exp += 1.0 / (60 + r.lex_rank)
        if r.vec_rank is not None:
            exp += 1.0 / (60 + r.vec_rank)
        assert r.rrf == round(exp, 6)
    both = [r for r in out if r.lex_rank is not None and r.vec_rank is not None]
    only = [r for r in out if (r.lex_rank is None) != (r.vec_rank is None)]
    if both and only:
        assert max(r.rrf for r in both) > min(r.rrf for r in only)


def test_mix_corpus_up_and_down_sampling(spark):
    """rate 3.0 -> exactly 3 copies of every doc; rate 0 -> dropped;
    rate 0.5 -> deterministic subset (same result twice); copy ids
    are 1..copies."""
    from ydb_vector_search_demo_spark.operators import curation

    docs = [(i, f"src{i % 2}", f"text {i}") for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, source STRING, text STRING")
    tripled = curation.mix_corpus(df, {"src0": 3.0, "src1": 0.0})
    rows = tripled.collect()
    assert {r.source for r in rows} == {"src0"}
    assert len(rows) == 100 * 3
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.copy_id)
    assert all(sorted(v) == [1, 2, 3] for v in per_doc.values())

    half_a = curation.mix_corpus(df, {"src0": 0.5}, default_rate=1.0)
    half_b = curation.mix_corpus(df, {"src0": 0.5}, default_rate=1.0)
    a = sorted((r.doc_id, r.copy_id) for r in half_a.collect())
    assert a == sorted((r.doc_id, r.copy_id) for r in half_b.collect())
    kept_src0 = len([1 for d, _ in a if d % 2 == 0])
    assert 25 <= kept_src0 <= 75  # ~50 of 100 at rate 0.5
    assert len([1 for d, _ in a if d % 2 == 1]) == 100  # default 1.0


def test_rag_chunk_maxp_matches_python_recompute(spark):
    """The chunk-retrieval query must equal a driver-side Python
    recomputation of the same stub arithmetic (chunking, embedding,
    cosine, per-doc best, global top-5) — the rows-only equivalent of
    an oracle."""
    import math

    import duckdb

    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.pipeline.rag import embed_query_stub
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES, QV

    got = [
        (r.doc_id, r.chunk_id, r.score)
        for r in QUERIES["rag_chunk_maxp"](spark, SF_SMOKE).collect()
    ]

    docs = duckdb.sql(
        f"select doc_id, text from '{SF_SMOKE}/documents.parquet'"
    ).fetchall()

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return 1.0 - dot / (na * nb) if na and nb else None

    best = []
    for doc_id, text in docs:
        per = []
        for ci, start in enumerate(range(0, max(len(text), 1), 90)):
            chunk = text[start : start + 120]
            s = cos([float(x) for x in embed_query_stub(chunk)], QV)
            per.append((s if s is not None else float("inf"), ci, chunk))
        s, ci, chunk = min(per)
        best.append((s, doc_id, ci))
    best.sort()
    expected = [(d, ci, round(s, 6)) for s, d, ci in best[:5]]
    assert got == expected, (got, expected)


def test_retrieval_reranked_matches_python_recompute(spark):
    """Pipeline pin: the reranked top-5 must equal recomputing the
    cross-encoder stub driver-side over the collected hybrid pool."""
    from tests.conftest import SF_ORACLE
    from ydb_vector_search_demo_spark.operators import retrieval as R
    from ydb_vector_search_demo_spark.plans.catalog import (
        FLAGSHIP_QUERY, QUERIES, QV,
    )
    from ydb_vector_search_demo_spark.sources.tables import load_table

    got = [
        (r.doc_id, r.rerank_score)
        for r in QUERIES["retrieval_reranked_top5"](spark, SF_ORACLE).collect()
    ]
    docs = load_table(spark, SF_ORACLE, "documents")
    embs = load_table(spark, SF_ORACLE, "embeddings")
    pool = R.hybrid_rrf_topk(docs, embs, FLAGSHIP_QUERY, QV, k=20, pool=20)
    texts = {
        r.doc_id: r.text
        for r in docs.join(pool.select("doc_id"), "doc_id").collect()
    }
    rescored = sorted(
        ((-R.cross_encoder_stub(FLAGSHIP_QUERY, texts[d]), d) for d in texts),
    )[:5]
    expected = [(d, round(-s, 6)) for s, d in rescored]
    assert got == expected, (got, expected)


def test_decontaminate_planted(spark):
    """Planted overlap: a corpus doc embedding an 8-token benchmark
    span is flagged; disjoint and too-short docs are not."""
    from ydb_vector_search_demo_spark.operators import dedup

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    bench = spark.createDataFrame(
        [(0, f"intro words {span} closing words")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (100, f"leading text {span} trailing text"),       # contaminated
            (101, "totally different words all the way here now"),  # clean
            (102, "short doc"),                                 # < n tokens
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.decontaminate(corpus, bench, n=8).collect()
    }
    assert out[100]["contaminated"] and out[100]["hit_windows"] >= 1
    assert not out[101]["contaminated"] and out[101]["hit_windows"] == 0
    assert not out[102]["contaminated"] and out[102]["n_windows"] == 0
    # every corpus row is reported exactly once
    assert sorted(out) == [100, 101, 102]


def test_decontaminate_no_python_nodes(spark, sf_smoke):
    from ydb_vector_search_demo_spark.operators import dedup
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    df = dedup.decontaminate(
        docs.filter("doc_id >= 20"), docs.filter("doc_id < 20"), n=8
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_unigram_ppl_orders_common_vs_rare(spark):
    """The LM filter's defining law: a document written in the corpus's
    common tokens scores fewer bits/token than one written in hapaxes;
    scores are finite and positive; exact integer micro-bit summing
    makes the result partitioning-independent."""
    from ydb_vector_search_demo_spark.operators.curation import (
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat " * 20),
            (1, "the cat sat on the mat"),
            (2, "zyx qwv jkl pmn xoq wib"),
        ],
        "doc_id INT, text STRING",
    )
    rows = {r.doc_id: r for r in unigram_logprob_scores(docs).collect()}
    assert rows[1].bits_per_token < rows[2].bits_per_token
    assert all(0 < r.bits_per_token < 64 for r in rows.values())
    repart = {
        r.doc_id: r.bits_per_token
        for r in unigram_logprob_scores(docs.repartition(7)).collect()
    }
    assert repart == {i: rows[i].bits_per_token for i in rows}


def test_bigram_ppl_sees_word_order(spark):
    """The bigram model's defining law: the same token multiset in
    corpus-typical order scores LOWER than shuffled — a signal the
    unigram model is provably blind to (its scores are equal on both).
    Single-token and empty docs behave (unigram-only / dropped)."""
    from ydb_vector_search_demo_spark.operators.curation import (
        bigram_logprob_scores,
        unigram_logprob_scores,
    )

    base = "the cat sat on the mat and the dog ran to the cat"
    docs = spark.createDataFrame(
        [
            (0, (base + " ") * 10),
            (1, "the cat sat on the mat"),
            (2, "mat the on sat cat the"),  # same multiset, shuffled
            (3, "cat"),
            (4, "   "),
        ],
        "doc_id INT, text STRING",
    )
    uni = {r.doc_id: r.bits_per_token for r in unigram_logprob_scores(docs).collect()}
    assert uni[1] == uni[2]  # unigram: order-blind
    bi = {r.doc_id: r for r in bigram_logprob_scores(docs).collect()}
    assert bi[1].bits_per_token < bi[2].bits_per_token  # bigram: order-aware
    assert bi[3].n_tokens == 1  # single token: unigram-only first term
    assert 4 not in bi  # empty text: no tokens, dropped
    assert bi[1].n_tokens == 6
    repart = {
        r.doc_id: r.bits_per_token
        for r in bigram_logprob_scores(docs.repartition(7)).collect()
    }
    assert repart == {i: bi[i].bits_per_token for i in bi}


def test_source_kl_flags_drifted_source(spark):
    """KL-drift law: a source matching the corpus mix scores near 0; a
    planted off-distribution source scores much higher; KL >= 0 up to
    the 1e-6 rounding grain; partitioning-independent."""
    from ydb_vector_search_demo_spark.operators.curation import (
        source_kl_divergence,
    )

    normal = "the cat sat on the mat and the dog ran to the mat"
    docs = spark.createDataFrame(
        [(i, normal, "steady") for i in range(20)]
        + [(100 + i, "zzz buy now click here zzz buy now", "spammy")
           for i in range(2)],
        "doc_id INT, text STRING, source STRING",
    )
    kl = {r.source: r for r in source_kl_divergence(docs).collect()}
    assert kl["spammy"].kl_bits > kl["steady"].kl_bits * 5
    assert all(r.kl_bits >= -1e-5 for r in kl.values())
    repart = {
        r.source: r.kl_bits
        for r in source_kl_divergence(docs.repartition(7)).collect()
    }
    assert repart == {s: kl[s].kl_bits for s in kl}


def test_approx_ppl_buckets_agree_with_exact(spark):
    """The approximate split (sketch bounds + map-only CASE) assigns
    >=90% of documents to the same band as the exact ntile, and its
    plan has no global sort of the corpus relation's rows into one
    ordered partition beyond the sketch agg."""
    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.operators.curation import (
        perplexity_buckets,
        perplexity_buckets_approx,
    )
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {r.doc_id: r.ppl_bucket for r in perplexity_buckets(docs).collect()}
    approx = {
        r.doc_id: r.ppl_bucket
        for r in perplexity_buckets_approx(docs).collect()
    }
    assert set(exact) == set(approx)
    agree = sum(1 for d in exact if exact[d] == approx[d])
    assert agree / len(exact) >= 0.9, agree / len(exact)
    assert set(approx.values()) == {1, 2, 3}


def test_compression_quality_matches_driver_zlib_and_flags(spark):
    """Arrow-seam contract: the UDF's ratio equals driver-side zlib
    byte-for-byte; a heavily repeated document flags too_redundant
    while prose-like text passes; NULL/empty texts yield NULL ratio."""
    import zlib

    from ydb_vector_search_demo_spark.operators.curation import (
        compression_quality,
    )

    texts = {
        0: "spam " * 400,
        1: "the quick brown fox jumps over the lazy dog and then "
           "wanders into a completely different paragraph about spark",
        2: "",
        3: None,
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id INT, text STRING"
    )
    out = {r.doc_id: r for r in compression_quality(docs).collect()}
    for k, t in texts.items():
        if not t:
            assert out[k].compression_ratio is None
            continue
        raw = t.encode("utf-8")
        want = round(len(zlib.compress(raw, 6)) / len(raw), 6)
        assert out[k].compression_ratio == want, k
    assert out[0].verdict == "too_redundant"
    assert out[1].verdict == "ok"


# ------------------------------------------ hashed linear classifier (r7)


def test_classifier_score_engine_matches_python_twin(spark):
    import pytest

    from ydb_vector_search_demo_spark.operators import curation

    texts = [
        "fast scan table row value",
        "a b",
        "singleword",
        "",
        "Mixed CASE tokens repeat repeat repeat",
    ]
    w = [round(((i * 37) % 101 - 50) / 60.0, 6) for i in range(64)]
    b = 0.2
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            curation.classifier_score_expr("text", w, b).alias("s"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == pytest.approx(
            curation.score_text_py(t, w, b), rel=1e-12
        ), t


def test_quality_classifier_distills_the_heuristic_gate(spark, sf_oracle):
    """Train on the heuristic gate's verdict over a seeded sample, then
    audit agreement over the FULL corpus — the distillation must
    recover the rule stack it learned from (deterministic fit: same
    call twice gives identical parameters)."""
    from ydb_vector_search_demo_spark.operators import curation
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    gated = curation.quality_gate(docs).withColumn(
        "label", (F.col("gate") == "keep").cast("double")
    )
    w1, b1 = curation.train_quality_classifier(gated, "label", sample=400)
    w2, b2 = curation.train_quality_classifier(gated, "label", sample=400)
    assert w1 == w2 and b1 == b2  # bit-reproducible fit
    rep = curation.classifier_agreement_report(
        spark, gated, "label", w1, b1
    ).collect()[0]
    assert rep.n == docs.count()
    assert rep.agreement >= 0.9, rep


def test_bloom_decontamination_equals_exact(spark, sf_smoke):
    """decontaminate_bloom is answer-preserving: no false negatives
    (Bloom) + exact verify of survivors == row-for-row equality with
    the exact path, including n_windows (counted BEFORE the prefilter)."""
    from ydb_vector_search_demo_spark.operators import dedup
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corp = docs.filter(F.col("doc_id") >= 20)
    exact = sorted(map(tuple, dedup.decontaminate(corp, bench, n=8).collect()))
    bloom = sorted(
        map(tuple, dedup.decontaminate_bloom(corp, bench, n=8).collect())
    )
    assert exact == bloom
    assert any(r[3] for r in exact)  # the law is non-vacuous at smoke SF


def test_bloom_has_no_false_negatives(spark, sf_smoke):
    """Every benchmark window hash passes its own Bloom filter — the
    property the answer-preservation argument rests on — and a tiny
    filter still flags planted contamination (correctness does not
    depend on fpp tuning, only cost does)."""
    from ydb_vector_search_demo_spark.operators import dedup
    from ydb_vector_search_demo_spark.operators.dedup import (
        bloom_test,
        build_bloom,
        tokens,
        word_shingles,
    )
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    words = build_bloom(bench, n=8, m_bits=1 << 12)
    bench_h = bench.select(
        F.explode(
            F.when(
                F.size(tokens(F.col("text"))) >= 8,
                F.transform(word_shingles(F.col("text"), 8), F.md5),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h")
    )
    n_total = bench_h.count()
    n_pass = bench_h.filter(bloom_test(F.col("h"), words)).count()
    assert n_total > 0 and n_pass == n_total

    plant = bench.select((F.col("doc_id") + 90000).alias("doc_id"), "text")
    corp = (
        docs.filter(F.col("doc_id") >= 20)
        .select("doc_id", "text")
        .unionByName(plant)
    )
    out = {
        r["doc_id"]: r["contaminated"]
        for r in dedup.decontaminate_bloom(
            corp, bench, n=8, m_bits=1 << 12
        ).collect()
    }
    planted = [d for d in out if d >= 90000]
    assert planted and all(out[d] for d in planted)


def test_bloom_build_rejects_bad_m_bits():
    from ydb_vector_search_demo_spark.operators import dedup

    with pytest.raises(ValueError, match="power of two"):
        dedup.build_bloom(None, m_bits=100)


def test_bloom_union_is_wordwise_or(spark, sf_smoke):
    """build_bloom(A ∪ B) == merge_blooms(build(A), build(B)) exactly —
    the law that makes eval-suite appends incremental."""
    from ydb_vector_search_demo_spark.operators import dedup
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    a = docs.filter(F.col("doc_id") < 10)
    b = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
    both = docs.filter(F.col("doc_id") < 20)
    m = 1 << 12
    wa = dedup.build_bloom(a, n=8, m_bits=m)
    wb = dedup.build_bloom(b, n=8, m_bits=m)
    wu = dedup.build_bloom(both, n=8, m_bits=m)
    assert dedup.merge_blooms(wa, wb) == wu
    with pytest.raises(ValueError, match="differ in size"):
        dedup.merge_blooms(wa, wa + [0])


def test_streaming_decontamination_equals_batch(spark):
    """The catalog's streaming row equals the batch bloom path (and so
    the exact path) per document on the same corpus."""
    import __spark_entry__ as m

    sf = SF_SMOKE
    stream_out = sorted(
        map(tuple, m.queries()["streaming_decontamination"](spark, sf).collect())
    )
    batch = sorted(
        map(
            tuple,
            m.queries()["corpus_decontamination_bloom"](spark, sf).collect(),
        )
    )
    # batch row is the one-row stats; recompute per-doc for comparison
    from ydb_vector_search_demo_spark.operators import dedup
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corp = docs.filter(F.col("doc_id") >= 20)
    per = sorted(
        map(
            tuple,
            dedup.decontaminate_bloom(corp, bench, n=8)
            .select(
                "doc_id",
                F.col("n_windows").cast("bigint"),
                F.col("hit_windows").cast("bigint"),
                "contaminated",
            )
            .collect(),
        )
    )
    assert stream_out == per
    assert len(batch) == 1


def test_bloom_stats_tracks_fill(spark, sf_smoke):
    from ydb_vector_search_demo_spark.operators import dedup
    from ydb_vector_search_demo_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    small = dedup.bloom_stats(dedup.build_bloom(bench, n=8, m_bits=1 << 12))
    big = dedup.bloom_stats(dedup.build_bloom(bench, n=8, m_bits=1 << 17))
    assert small["m_bits"] == 1 << 12 and big["m_bits"] == 1 << 17
    assert 0 < big["fill_ratio"] < small["fill_ratio"] < 1
    assert big["est_fpp"] < small["est_fpp"]
    # the union law extends to stats: merged fill >= each part's fill
    a = dedup.build_bloom(docs.filter(F.col("doc_id") < 10), n=8, m_bits=1 << 12)
    b = dedup.build_bloom(
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        n=8, m_bits=1 << 12,
    )
    merged = dedup.bloom_stats(dedup.merge_blooms(a, b))
    assert merged["set_bits"] >= max(
        dedup.bloom_stats(a)["set_bits"], dedup.bloom_stats(b)["set_bits"]
    )


def test_asof_tolerance_gates_distant_matches(spark):
    from datetime import datetime as DT

    left = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 10, 0, 0)), (2, DT(2024, 1, 1, 12, 0, 0))],
        "k INT, t TIMESTAMP",
    )
    right = spark.createDataFrame(
        [
            (1, DT(2024, 1, 1, 10, 10, 0), 5.0),   # 10 min after left#1
            (2, DT(2024, 1, 1, 13, 30, 0), 7.0),   # 90 min after left#2
        ],
        "k INT, t TIMESTAMP, v DOUBLE",
    )
    got = {
        r["k"]: r["matched_v"]
        for r in as_of_join(
            left, right, "k", "t", "t", ["v"],
            direction="forward", inclusive=False, tolerance_seconds=1800,
        ).collect()
    }
    assert got == {1: 5.0, 2: None}, got
    # without the tolerance both match
    got2 = {
        r["k"]: r["matched_v"]
        for r in as_of_join(
            left, right, "k", "t", "t", ["v"],
            direction="forward", inclusive=False,
        ).collect()
    }
    assert got2 == {1: 5.0, 2: 7.0}, got2
