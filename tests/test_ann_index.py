"""IVF index lifecycle at its real surface: build → write partitioned
by centroid_id → query the store with partition pruning → recall vs
exact. This is the reference's (disabled) vector_kmeans_tree path
re-expressed as MLlib batch indexing + Parquet partition layout
(SURVEY.md §2.2 V4, §4 'ANN pruning')."""

from __future__ import annotations

from ydb_vector_search_demo_spark.operators import ann
from ydb_vector_search_demo_spark.operators.knn import knn_scores
from ydb_vector_search_demo_spark.pipeline.rag import embed_query_stub
from ydb_vector_search_demo_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE

QV = embed_query_stub("partition pruned vector search")


def test_ivf_parquet_roundtrip_prunes_and_recalls(spark, tmp_path):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=8)
    path = str(tmp_path / "ivf_store")
    ann.write_ivf_partitioned(index, path)

    nprobe = 4
    result = ann.ivf_search_parquet(
        spark, path, index.centroids, QV, k=10, nprobe=nprobe
    )

    # 1. the filter must surface as PARTITION pruning, not a data filter
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "centroid_id" in pf
    # and the scan must still be a top-k, never a full sort
    assert "TakeOrderedAndProject" in plan

    # 2. the store actually has all 8 cells (so pruning is meaningful)
    cells = spark.read.parquet(path).select("centroid_id").distinct().count()
    assert cells == 8

    # 3. recall vs exact at equal k
    exact = [r["vec_id"] for r in knn_scores(embs, QV, k=10).collect()]
    approx = [r["vec_id"] for r in result.collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, f"recall@10 {recall} too low for nprobe={nprobe}/8"

    # 4. full probe == exact
    allprobe = ann.ivf_search_parquet(
        spark, path, index.centroids, QV, k=10, nprobe=8
    )
    assert [r["vec_id"] for r in allprobe.collect()] == exact


def test_ivf_assign_matches_kmeans_transform(spark):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=8)
    expr = {
        r["vec_id"]: r["centroid_id"]
        for r in ann.ivf_assign(index.centroids, embs).collect()
    }
    mllib = {
        r["vec_id"]: r["centroid_id"] for r in index.assigned.collect()
    }
    assert expr == mllib


def test_ivf_append_serves_new_vectors(spark, tmp_path):
    from pyspark.sql import functions as F

    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=8)
    path = str(tmp_path / "ivf_store")
    ann.write_ivf_partitioned(index, path)
    n0 = spark.read.parquet(path).count()

    # ingest copies of 10 existing vectors under new ids — no refit
    new = (
        embs.limit(10)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    ann.ivf_append(index.centroids, new, path)

    store = spark.read.parquet(path)
    assert store.count() == n0 + 10

    # a new vector is its own exact duplicate: searching with its
    # embedding must surface the appended id right behind its twin
    probe = embs.limit(1).collect()[0]
    res = ann.ivf_search_parquet(
        spark, path, index.centroids, list(probe["embedding"]), k=2, nprobe=1
    ).collect()
    ids = [r["vec_id"] for r in res]
    assert ids == [probe["vec_id"], probe["vec_id"] + 1_000_000]
    assert res[0]["score"] == res[1]["score"]


def test_kmeans_tree_partitions_and_recalls(spark):
    """Two-level tree: sub-assignment is a partition of each top cell,
    a full probe equals exact KNN, and at equal scanned fraction the
    tree's recall is in the flat index's neighborhood."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    n = embs.count()
    tree = ann.build_kmeans_tree_index(embs, k_top=8, k_sub=4)

    # assignment is a partition: every row lands in exactly one
    # (cell_top, cell_sub), sub ids stay within the child codebook
    from pyspark.sql import functions as F

    cells = tree.assigned.groupBy("cell_top", "cell_sub").count().collect()
    assert sum(r["count"] for r in cells) == n
    for r in cells:
        assert 0 <= r["cell_sub"] < len(tree.centroids_sub[r["cell_top"]])

    exact = [r["vec_id"] for r in knn_scores(embs, QV, k=10).collect()]

    # full probe (all top cells, all sub cells) == exact
    allprobe = tree.search(QV, k=10, nprobe_top=8, nprobe_sub=4)
    assert [r["vec_id"] for r in allprobe.collect()] == exact

    # 1/4 scanned fraction: tree (4/8 top × 2/4 sub) vs flat (8/32)
    tree_hits = {
        r["vec_id"] for r in tree.search(QV, k=10, nprobe_top=4, nprobe_sub=2).collect()
    }
    flat = ann.build_ivf_index(embs, k_clusters=32)
    flat_probes = ann.rank_centroids(flat.centroids, QV)[:8]
    flat_hits = {
        r["vec_id"]
        for r in knn_scores(
            flat.assigned.filter(F.col("centroid_id").isin(flat_probes)), QV, k=10
        ).collect()
    }
    tree_recall = len(tree_hits & set(exact)) / len(exact)
    flat_recall = len(flat_hits & set(exact)) / len(exact)
    assert tree_recall >= 0.4, f"tree recall@10 {tree_recall} too low at 1/4 scan"
    # same scanned fraction → comparable quality (tree trades a little
    # recall for sub-linear centroid ranking; must not collapse)
    assert tree_recall >= flat_recall - 0.3, (tree_recall, flat_recall)
    tree.assigned.unpersist()
    flat.assigned.unpersist()


def test_tree_recall_query_shape(spark):
    from tests.conftest import SF_SMOKE as sf

    embs = load_table(spark, sf, "embeddings")
    row = ann.tree_recall(
        spark, embs, QV, k=10, k_top=4, k_sub=2, nprobe_top=2, nprobe_sub=1,
    ).collect()[0]
    assert row["scanned_fraction"] == 0.25
    assert 0.0 <= row["recall"] <= 1.0


def test_tree_parquet_roundtrip_prunes_both_levels(spark, tmp_path):
    """Two-level store: the probe filter must surface as PARTITION
    pruning over (cell_top, cell_sub), the scan stays a top-k, and a
    full probe of the persisted store equals exact KNN."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    tree = ann.build_kmeans_tree_index(embs, k_top=8, k_sub=4)
    path = str(tmp_path / "tree_store")
    ann.write_store(tree.assigned, path, tree.store.router)

    result = ann.VectorStore(
        spark.read.parquet(path),
        ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
    ).search(
        QV,
        k=10, nprobe_top=4, nprobe_sub=2,
    )
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "cell_top" in pf and "cell_sub" in pf
    assert "TakeOrderedAndProject" in plan

    exact = [r["vec_id"] for r in knn_scores(embs, QV, k=10).collect()]
    approx = [r["vec_id"] for r in result.collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.4, f"tree-store recall@10 {recall} too low at 1/4 scan"

    allprobe = ann.VectorStore(
        spark.read.parquet(path),
        ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
    ).search(
        QV,
        k=10, nprobe_top=8, nprobe_sub=4,
    )
    assert [r["vec_id"] for r in allprobe.collect()] == exact
    tree.assigned.unpersist()


def test_tree_assign_matches_build_and_append_serves(spark, tmp_path):
    """tree_assign's map-side expression must reproduce the build-time
    assignment exactly, and an appended duplicate must surface right
    behind its twin through the persisted store."""
    from pyspark.sql import functions as F

    embs = load_table(spark, SF_SMOKE, "embeddings")
    tree = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2)

    expr = {
        r["vec_id"]: (r["cell_top"], r["cell_sub"])
        for r in ann.tree_assign(tree.centroids_top, tree.centroids_sub, embs).collect()
    }
    built = {
        r["vec_id"]: (r["cell_top"], r["cell_sub"])
        for r in tree.assigned.collect()
    }
    assert expr == built

    path = str(tmp_path / "tree_store")
    ann.write_store(tree.assigned, path, tree.store.router)
    n0 = spark.read.parquet(path).count()
    new = embs.limit(5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    ann.write_store(
        new, path, ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
        mode="append",
    )
    assert spark.read.parquet(path).count() == n0 + 5

    probe = embs.limit(1).collect()[0]
    res = ann.VectorStore(
        spark.read.parquet(path),
        ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
    ).search(list(probe["embedding"]), k=2, nprobe_top=1, nprobe_sub=1).collect()
    assert [r["vec_id"] for r in res] == [probe["vec_id"], probe["vec_id"] + 1_000_000]
    assert res[0]["score"] == res[1]["score"]
    tree.assigned.unpersist()


def test_doubling_and_tree_probe_levels():
    assert ann._doubling_levels(1, 16) == [1, 2, 4, 8, 16]
    assert ann._doubling_levels(3, 16) == [3, 6, 12, 16]
    assert ann._doubling_levels(4, 4) == [4]
    # sub widens to k_sub first, then top widens to k_top
    assert ann._tree_probe_levels(2, 1, 8, 4) == [
        (2, 1), (2, 2), (2, 4), (4, 4), (8, 4)
    ]


def test_filtered_ivf_parquet_pushes_predicate_into_pruned_scan(spark, tmp_path):
    """r3 verdict #3: the metadata predicate must reach the parquet
    reader as a pushed filter ALONGSIDE the centroid partition filter —
    filtered rows are skipped at the row-group level, never scored."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=8, keep_cols=("label",))
    path = str(tmp_path / "ivf_store_meta")
    ann.write_ivf_partitioned(index, path)

    result = ann.ivf_search_parquet(
        spark, path, index.centroids, QV, k=5, nprobe=3, predicate="label = 1"
    )
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "centroid_id" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert "PushedFilters: [" in plan
    assert "label" in plan.split("PushedFilters:")[1].split("]")[0]
    assert "TakeOrderedAndProject" in plan

    label1 = {r.vec_id for r in embs.filter("label = 1").select("vec_id").collect()}
    assert {r.vec_id for r in result.collect()} <= label1
    index.assigned.unpersist()


def test_filtered_probe_widening_restores_recall(spark, sf_oracle):
    """A selective predicate starves a fixed nprobe=1 probe; the
    min_candidates widening rule must recover filtered-exact recall."""
    from pyspark.sql import functions as F

    embs = load_table(spark, sf_oracle, "embeddings")
    report = ann.filtered_recall(
        spark, embs, QV, predicate=F.col("label") == 1,
        k=10, k_clusters=16, nprobe=1, rescore_factor=3,
    ).collect()[0]
    assert report.recall_widened >= report.recall_fixed
    assert report.nprobe_widened > report.nprobe_fixed
    assert report.recall_widened >= 0.9, report
    ann.clear_index_cache()


def test_filtered_widening_caps_at_full_probe_and_equals_exact(spark):
    """min_candidates beyond the predicate's total population must cap
    the widening at a full probe — which IS filtered exact KNN."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    index = ann.build_ivf_index(embs, k_clusters=4, keep_cols=("label",))
    pred = "label = 2"
    exact = [
        r.vec_id for r in knn_scores(embs.filter(pred), QV, k=5).collect()
    ]
    got = [
        r.vec_id
        for r in index.search(
            QV, k=5, nprobe=1, predicate=pred, min_candidates=10**9
        ).collect()
    ]
    assert got == exact
    index.assigned.unpersist()


def test_filtered_tree_parquet_pushes_predicate(spark, tmp_path):
    embs = load_table(spark, SF_SMOKE, "embeddings")
    tree = ann.build_kmeans_tree_index(
        embs, k_top=4, k_sub=2, keep_cols=("label",)
    )
    path = str(tmp_path / "tree_store_meta")
    ann.write_store(
        tree.assigned, path, tree.store.router, keep_cols=("label",)
    )
    result = ann.VectorStore(
        spark.read.parquet(path),
        ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
    ).search(
        QV,
        k=5, nprobe_top=2, nprobe_sub=2, predicate="label = 1",
        min_candidates=5,
    )
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "cell_top" in plan and "cell_sub" in plan
    assert "PushedFilters: [" in plan
    assert "label" in plan.split("PushedFilters:")[1].split("]")[0]
    label1 = {r.vec_id for r in embs.filter("label = 1").select("vec_id").collect()}
    assert {r.vec_id for r in result.collect()} <= label1
    tree.assigned.unpersist()


def test_tree_drift_detection_and_rebalance(spark, tmp_path):
    """Skewed appends must trip the drift report; rebalance_tree must
    rebuild into a store whose skew is back under control."""
    from pyspark.sql import functions as F

    embs = load_table(spark, SF_SMOKE, "embeddings")
    tree = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2)
    path = str(tmp_path / "tree_drift")
    ann.write_store(tree.assigned, path, tree.store.router)
    balanced = ann.tree_drift_report(spark, path).collect()[0]

    # skewed append: clone ONE leaf's vectors 6x with fresh ids — they
    # route back to the same leaf by construction
    leaf = spark.read.parquet(path).limit(1).collect()[0]
    one_leaf = (
        spark.read.parquet(path)
        .filter(
            (F.col("cell_top") == leaf.cell_top)
            & (F.col("cell_sub") == leaf.cell_sub)
        )
        .select("vec_id", "embedding")
    )
    for i in range(6):
        clones = one_leaf.select(
            (F.col("vec_id") + 100000 * (i + 1)).alias("vec_id"), "embedding"
        )
        ann.write_store(
            clones, path,
            ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
            mode="append",
        )

    drifted = ann.tree_drift_report(spark, path).collect()[0]
    assert drifted.skew_ratio > balanced.skew_ratio
    assert drifted.needs_rebalance, drifted

    # stats carry real byte counts per leaf
    stats = ann.tree_leaf_stats(spark, path).collect()
    assert all(r.leaf_bytes > 0 for r in stats)
    assert sum(r.n_rows for r in stats) == drifted.total_rows

    # balanced store: no-op (returns None, store untouched)
    pre = ann.rebalance_tree(
        spark, path, str(tmp_path / "never"),
        skew_threshold=drifted.skew_ratio + 1,
    )
    assert pre is None

    out = str(tmp_path / "tree_rebalanced")
    new_index = ann.rebalance_tree(spark, path, out, k_top=4, k_sub=2)
    assert new_index is not None
    after = ann.tree_drift_report(spark, out).collect()[0]
    assert after.total_rows == drifted.total_rows  # nothing lost
    assert after.skew_ratio < drifted.skew_ratio
    new_index.assigned.unpersist()
    tree.assigned.unpersist()


def test_parallel_child_fits_identical_to_sequential(spark):
    """child_fit_parallelism must not change the codebook: each child
    fit keeps its own (seed + t), so parallel and sequential builds are
    bit-identical."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    seq = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2, child_fit_parallelism=1)
    par = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2, child_fit_parallelism=8)
    assert seq.centroids_top == par.centroids_top
    assert seq.centroids_sub == par.centroids_sub
    seq.assigned.unpersist()
    par.assigned.unpersist()


def test_tree_build_survives_near_duplicate_corpus(spark):
    """A cell whose points are (near-)duplicates must not kill the
    build: MLlib KMeans returns fewer centers (or fails) when distinct
    points < k — the child fit clamps/falls back instead of raising."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(40)] + [
        (i + 40, [9.0, 8.0, 7.0, 6.0]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    tree = ann.build_kmeans_tree_index(df, k_top=2, k_sub=4)
    assert len(tree.centroids_sub) == 2
    got = tree.search([1.0, 2.0, 3.0, 4.0], k=3, nprobe_top=2, nprobe_sub=4)
    assert got.count() == 3
    tree.assigned.unpersist()


def test_compact_partitioned_store_preserves_layout_and_rows(spark, tmp_path):
    """After N small appends, compaction must shrink file count while
    keeping the directory layout (pruning) and every row."""
    import glob

    from ydb_vector_search_demo_spark.sources.tables import (
        compact_partitioned_store,
    )

    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    tree = ann.build_kmeans_tree_index(embs, k_top=2, k_sub=2)
    path = str(tmp_path / "frag")
    ann.write_store(tree.assigned, path, tree.store.router)
    for i in range(5):  # fragment: 5 small appends
        from pyspark.sql import functions as F

        clones = embs.limit(20).select(
            (F.col("vec_id") + 1000 * (i + 1)).alias("vec_id"), "embedding"
        )
        ann.write_store(
            clones, path,
            ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
            mode="append",
        )

    before = len(glob.glob(path + "/**/*.parquet", recursive=True))
    out = str(tmp_path / "compacted")
    compact_partitioned_store(spark, path, out, ["cell_top", "cell_sub"])
    after = len(glob.glob(out + "/**/*.parquet", recursive=True))
    assert after < before

    a = spark.read.parquet(path)
    b = spark.read.parquet(out)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # layout intact -> cell filters still partition-prune
    probed = b.filter("cell_top = 0 and cell_sub = 0")
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell_top" in plan.split("PartitionFilters:")[1].split("]")[0]
    tree.assigned.unpersist()


def test_knn_graph_single_bucket_is_exact(spark):
    """With one global bucket the bucketed kNN graph IS the exact kNN
    graph: per source it equals exact KNN over the corpus minus self."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.operators.knn import knn_scores
    from ydb_vector_search_demo_spark.sources.tables import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings").limit(60)
    one = embs.withColumn("_one", F.lit(1))
    graph = ann.knn_graph_bucketed(
        one, "_one", k=3, sources=one.filter("vec_id < 5")
    ).collect()
    by_src = {}
    for r in graph:
        by_src.setdefault(r.src, []).append((r.rank, r.dst, round(r.score, 9)))
    rows = {r.vec_id: r.embedding for r in embs.filter("vec_id < 5").collect()}
    for src, qv in rows.items():
        exact = knn_scores(
            embs.filter(F.col("vec_id") != src), qv, k=3
        ).collect()
        want = [
            (i + 1, r.vec_id, round(r.score, 9)) for i, r in enumerate(exact)
        ]
        assert sorted(by_src[src]) == want, f"src {src}"


def test_knn_graph_plan_has_group_limit_and_no_python(spark):
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.sources.tables import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings")
    df = ann.knn_graph_bucketed(embs, "label", k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan


def test_mutual_knn_clusters_recover_planted_groups(spark):
    """Two tight planted clusters + one outlier: mutual-kNN clustering
    recovers exactly the planted grouping — the outlier stays a
    singleton even though IT has nearest neighbors (they don't
    reciprocate: the asymmetry the mutual filter exists for). Output
    honors the dedup-cluster contract (min-id canonical, full node
    coverage)."""
    from pyspark.sql import functions as F

    from ydb_vector_search_demo_spark.operators import ann

    def around(base, i):
        return [x + 0.001 * i for x in base]

    a, b = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    rows = (
        [(i, around(a, i)) for i in range(4)]
        + [(10 + i, around(b, i)) for i in range(4)]
        + [(99, [0.5, 0.5, 0.7, 0.1])]  # outlier
    )
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).withColumn("bucket", F.lit(1))
    out = {r.vec_id: r for r in ann.mutual_knn_clusters(df, "bucket", k=3).collect()}
    assert len(out) == 9
    assert {out[i].cluster_id for i in range(4)} == {0}
    assert {out[10 + i].cluster_id for i in range(4)} == {10}
    assert out[99].cluster_id == 99 and out[99].cluster_size == 1
    assert out[0].is_canonical and not out[1].is_canonical
    assert out[0].cluster_size == 4


def test_knn_graph_recall_report_shape(spark):
    """The cell-bucketed graph's recall report: min <= mean in [0, 1],
    and a coarser clustering (fewer, larger cells) never reports WORSE
    mean recall than a finer one on the same corpus — more of each
    node's true neighborhood shares its cell. (Exactness of the
    single-bucket graph is pinned separately in
    test_knn_graph_single_bucket_is_exact.)"""
    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.sources.tables import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings")
    coarse = ann.knn_graph_recall(
        spark, embs, k=5, k_clusters=2, n_sources=5
    ).first()
    fine = ann.knn_graph_recall(
        spark, embs, k=5, k_clusters=8, n_sources=5
    ).first()
    for r in (coarse, fine):
        assert 0.0 <= r.min_recall <= r.mean_recall <= 1.0
    assert coarse.mean_recall >= fine.mean_recall - 1e-9


def test_mutual_knn_clusters_default_repairs_cell_boundary(spark):
    """r5 verdict task #6: the DEFAULT graph source for mutual-kNN
    clustering is the multi-probe (repaired) graph. Boundary-heavy
    corpus: two anchor blobs pull the IVF centroids, and a tight
    4-point group straddles the Voronoi midline so its members land
    2/2 in different cells. Single-probe (nprobe=1) cannot form the
    cross-cell mutual edges and splits the planted group; the default
    nprobe=2 sees across the boundary and recovers it whole. The index
    is constructed explicitly (ivf_assign on pinned centroids) so the
    cell split is deterministic, not a KMeans-convergence accident."""
    from ydb_vector_search_demo_spark.operators import ann

    def around(base, i, dx=0.001):
        return [base[0] + dx * i, base[1], base[2], base[3]]

    rows = (
        [(i, around([0.0, 10.0, 0.0, 0.0], i)) for i in range(8)]
        + [(100 + i, around([20.0, 10.0, 0.0, 0.0], i)) for i in range(8)]
        # straddle group, symmetric around the x=10 midline
        + [(50, [9.9985, 10.0, 0.0, 0.0]), (51, [9.9995, 10.0, 0.0, 0.0]),
           (52, [10.0005, 10.0, 0.0, 0.0]), (53, [10.0015, 10.0, 0.0, 0.0])]
    )
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = [[0.0, 10.0, 0.0, 0.0], [20.0, 10.0, 0.0, 0.0]]
    idx = ann.IvfIndex(ann.ivf_assign(cents, df), cents, "vec_id", "embedding")
    asn = {
        r["vec_id"]: r["centroid_id"]
        for r in idx.assigned.select("vec_id", "centroid_id").collect()
    }
    assert {asn[50], asn[51]} == {0} and {asn[52], asn[53]} == {1}

    single = {
        r.vec_id: r.cluster_id
        for r in ann.mutual_knn_clusters(
            df, k=3, metric="euclidean", nprobe=1, index=idx
        ).collect()
    }
    multi = {
        r.vec_id: r.cluster_id
        for r in ann.mutual_knn_clusters(
            df, k=3, metric="euclidean", nprobe=2, index=idx
        ).collect()
    }
    straddle = (50, 51, 52, 53)
    assert {single[i] for i in straddle} == {50, 52}  # split at the boundary
    assert {multi[i] for i in straddle} == {50}       # repaired
    assert {multi[i] for i in range(8)} == {0}
    assert {multi[100 + i] for i in range(8)} == {100}


def test_mutual_knn_clusters_refined_graph_source(spark):
    """refine_iters plumbs NN-descent in as the default-path refiner:
    on a corpus the multi-probe graph already serves well, refinement
    must not change the recovered clustering (exact graph is a fixed
    point); and passing graph=... overrides the built-in sources."""
    from pyspark.sql import functions as F

    from ydb_vector_search_demo_spark.operators import ann

    def around(base, i):
        return [x + 0.001 * i for x in base]

    a, b = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    rows = (
        [(i, around(a, i)) for i in range(4)]
        + [(10 + i, around(b, i)) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    base = ann.mutual_knn_clusters(
        df, k=3, metric="euclidean", nprobe=2, k_clusters=2, cache_key="mkc-r"
    ).collect()
    refined = ann.mutual_knn_clusters(
        df, k=3, metric="euclidean", nprobe=2, refine_iters=1,
        k_clusters=2, cache_key="mkc-r",
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, refined))
    # explicit graph override: a graph connecting everything collapses
    # the corpus to one cluster
    n = df.count()
    allg = df.selectExpr("vec_id as src").crossJoin(
        df.selectExpr("vec_id as dst")
    ).filter(F.col("src") != F.col("dst"))
    one = ann.mutual_knn_clusters(df, graph=allg).collect()
    assert {r.cluster_id for r in one} == {0}
    assert all(r.cluster_size == n for r in one)


def test_brp_lsh_neighbors_recall_law(spark):
    """MLlib BucketedRandomProjectionLSH keeps a catalog-independent
    exercise after its rows-only catalog row retired in r9 (its LSH
    serving surface is graded via the pinned ann_lsh_fixed; the MLlib
    tables are seeded-random and can never carry a cross-engine
    oracle): seeded run is deterministic, scores are true Euclidean
    distances, and recall@10 against exact search clears the floor the
    recall reports document for hash-bucketed probes."""
    embs = load_table(spark, SF_SMOKE, "embeddings")
    got = ann.brp_lsh_neighbors(
        embs, QV, k=10, bucket_length=2.0, num_hash_tables=3
    ).collect()
    again = ann.brp_lsh_neighbors(
        embs, QV, k=10, bucket_length=2.0, num_hash_tables=3
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == [
        (r["vec_id"], r["score"]) for r in again
    ], "seeded MLlib LSH must be deterministic"
    assert len(got) == 10
    exact = {
        r["vec_id"]
        for r in knn_scores(embs, QV, k=10, metric="euclidean").collect()
    }
    hits = sum(1 for r in got if r["vec_id"] in exact)
    assert hits >= 5, f"recall@10 {hits}/10 below the bucketed-probe floor"


def test_knn_graph_max_bucket_laws(spark):
    """Heavy-tail cap laws for knn_graph_bucketed(max_bucket=...):
    (1) a cap at or above every bucket's size is a no-op — output
    identical to the uncapped build; (2) with a binding cap, every
    edge's endpoints share the secondary sign sub-code (recomputed
    here via the same pinned planes), edges stay within their primary
    bucket, and each kept pair's score still equals the exact
    metric."""
    from pyspark.sql import functions as F

    embs = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "_one", F.lit(0)
    )
    n = embs.count()
    uncapped = sorted(
        map(tuple, ann.knn_graph_bucketed(embs, "_one", k=3).collect())
    )
    noop = sorted(
        map(
            tuple,
            ann.knn_graph_bucketed(embs, "_one", k=3, max_bucket=n).collect(),
        )
    )
    assert noop == uncapped, "cap >= bucket size must be a no-op"

    capped = ann.knn_graph_bucketed(
        embs, "_one", k=3, max_bucket=max(n // 8, 2), split_bits=3
    )
    rows = capped.collect()
    assert rows, "capped build lost everything"
    dim = len(embs.select("embedding").first()[0])
    planes = ann.pinned_split_planes(dim, 3)
    # the one bucket (size n, cap n//8) splits by min(3, ceil(log2(8)))
    # = 3 bits -> the FULL 3-bit code must match across every edge
    codes = {
        r["vec_id"]: r["c"]
        for r in embs.select(
            "vec_id", ann.split_sign_code(F.col("embedding"), planes).alias("c")
        ).collect()
    }
    for r in rows:
        assert codes[r["src"]] == codes[r["dst"]], (
            r["src"], r["dst"], codes[r["src"]], codes[r["dst"]],
        )
    # scores are still the exact metric for the kept pairs
    from ydb_vector_search_demo_spark.functions.vector import cosine_distance

    vecs = {r["vec_id"]: r["embedding"] for r in embs.collect()}
    pair_df = spark.createDataFrame(
        [(r["src"], r["dst"], vecs[r["src"]], vecs[r["dst"]], r["score"])
         for r in rows],
        "src BIGINT, dst BIGINT, va ARRAY<FLOAT>, vb ARRAY<FLOAT>, got DOUBLE",
    ).select((F.abs(cosine_distance("va", "vb") - F.col("got"))).alias("e"))
    assert pair_df.agg(F.max("e")).first()[0] < 1e-9


def test_knn_graph_probe_hamming_laws(spark):
    """Hamming-1 multiprobe laws: (1) with no oversized bucket the
    probe is a no-op (identical to the uncapped build); (2) with a
    binding cap, probed edges may cross sub-cells but only at Hamming
    distance <= 1 on the kept bits, and the probed edge set recalls at
    least as much of the exact graph as the bare capped build (more
    candidates can only improve a per-src top-k against the same
    scores)."""
    from pyspark.sql import functions as F

    embs = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "_one", F.lit(0)
    )
    n = embs.count()
    uncapped = sorted(
        map(tuple, ann.knn_graph_bucketed(embs, "_one", k=3).collect())
    )
    noop = sorted(
        map(
            tuple,
            ann.knn_graph_bucketed(
                embs, "_one", k=3, max_bucket=n, probe_hamming=1
            ).collect(),
        )
    )
    assert noop == uncapped

    cap = max(n // 8, 2)
    bare = {
        (r["src"], r["dst"])
        for r in ann.knn_graph_bucketed(
            embs, "_one", k=3, max_bucket=cap, split_bits=3
        ).collect()
    }
    probed = {
        (r["src"], r["dst"])
        for r in ann.knn_graph_bucketed(
            embs, "_one", k=3, max_bucket=cap, split_bits=3, probe_hamming=1
        ).collect()
    }
    exact = {
        (r["src"], r["dst"])
        for r in ann.knn_graph_bucketed(embs, "_one", k=3, n_salt=0).collect()
    }
    assert len(probed & exact) >= len(bare & exact)
    dim = len(embs.select("embedding").first()[0])
    planes = ann.pinned_split_planes(dim, 3)
    codes = {
        r["vec_id"]: r["c"]
        for r in embs.select(
            "vec_id", ann.split_sign_code(F.col("embedding"), planes).alias("c")
        ).collect()
    }
    for s, d in probed:
        x = codes[s] ^ codes[d]
        assert x == 0 or (x & (x - 1)) == 0, (s, d, bin(x))


def test_kmeans_lloyd_steps_matches_reference(spark):
    """ann.kmeans_lloyd_steps against an independent Python Lloyd on
    the same integer lattice (floor·2^g, bigint argmin with
    ascending-cid tie-break, truncate-toward-zero integer means) —
    plus the tie-break law (a point equidistant to two centroids
    joins the LOWER cid) and the empty-cluster carry-over law (a
    seed whose every point defects keeps its previous centroid)."""
    from ydb_vector_search_demo_spark.operators.ann import (
        kmeans_lloyd_steps,
    )

    # vec 3 duplicates vec 1 (seed of cid 0): it ties and defects to
    # cid 0, leaving cid 2 empty from iteration 1 onward
    vecs = {
        1: [0.10, 0.20],
        2: [5.00, 5.00],
        3: [0.10, 0.20],
        4: [0.30, 0.10],
        5: [5.20, 4.80],
        6: [4.90, 5.10],
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    got = {
        r["cid"]: (r["n_vecs"], r["inertia_units"], r["c_norm1"])
        for r in kmeans_lloyd_steps(
            df, k=3, iterations=2, dims=2, grid_bits=18
        ).collect()
    }

    import math
    import struct as _struct

    def f32(x):  # float32 rounding, as parquet/Spark store it
        return _struct.unpack("f", _struct.pack("f", x))[0]

    g = {
        i: [math.floor(f32(x) * (1 << 18)) for x in v]
        for i, v in vecs.items()
    }
    cents = {cid: list(g[i]) for cid, i in enumerate(sorted(g)[:3])}

    def assign():
        out = {}
        for i, v in g.items():
            best = None
            for cid in sorted(cents):
                d = sum((a - b) ** 2 for a, b in zip(v, cents[cid]))
                if best is None or d < best[0]:
                    best = (d, cid)
            out[i] = best
        return out

    def tdiv(a, b):  # truncate toward zero, Spark div == DuckDB //
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    for _ in range(2):
        a = assign()
        for cid in cents:
            members = [i for i, (_, c) in a.items() if c == cid]
            if members:
                n = len(members)
                cents[cid] = [
                    tdiv(sum(g[i][d] for i in members), n)
                    for d in range(2)
                ]
    a = assign()
    want = {}
    for cid in cents:
        members = [i for i, (_, c) in a.items() if c == cid]
        want[cid] = (
            len(members),
            sum(d for i, (d, c) in a.items() if c == cid),
            sum(abs(x) for x in cents[cid]),
        )
    want = {c: v for c, v in want.items() if v[0] > 0}
    got_nonempty = {c: v for c, v in got.items() if v[0] > 0}
    assert got_nonempty == want
    # the tie-then-defect dynamic this corpus plants: iteration 1
    # ties vecs 1/3 to the LOWER cid 0 (cid 2 empties and carries its
    # seed centroid over); iteration 2's moved cid-0 centroid loses
    # them back to the carried centroid sitting exactly on g[1] — so
    # the final cells are {4}, {2,5,6}, {1,3} with zero inertia in
    # the two point-coincident cells
    assert got[0] == (1, 0, sum(abs(x) for x in g[4]))
    assert got[1][0] == 3
    assert got[2] == (2, 0, sum(abs(x) for x in g[1]))


def test_triangle_stats_laws(spark):
    """ann.triangle_stats on a hand graph: a triangle+tail graph
    (T=1, W=6, cc=0.5) and a K4 clique (T=4, W=12, cc=1.0) — fed as
    DIRECTED edges with duplicates and reversals to exercise the
    undirect+dedup stage; counts and the coefficient match the hand
    computation exactly."""
    from ydb_vector_search_demo_spark.operators.ann import triangle_stats

    und0 = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    und1 = [
        (11, 12), (11, 13), (11, 14), (12, 13), (12, 14), (13, 14),
    ]
    directed = []
    for u, v in und0 + und1:
        directed += [(u, v), (v, u), (u, v)]  # dupes + reversals
    edges = spark.createDataFrame(directed, "src BIGINT, dst BIGINT")
    nodes = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(i, 1) for i in (11, 12, 13, 14)],
        "vec_id BIGINT, label INT",
    )
    got = {
        r["label"]: (
            r["n_nodes"], r["n_edges"], r["n_wedges"],
            r["n_triangles"], r["clustering"],
        )
        for r in triangle_stats(edges, nodes).collect()
    }
    assert got[0] == (5, 5, 6, 1, 0.5)
    assert got[1] == (4, 6, 12, 4, 1.0)


def test_power_iteration_gram_matches_reference(spark):
    """ann.power_iteration_gram against an independent numpy int64
    replay (same lattice, same G·v = Σ x(xᵀv) step, same pure-integer
    renormalization) — and the spectral law: on a corpus with a
    planted dominant axis the recovered direction concentrates on
    that axis and lambda_data approximates its second moment."""
    import numpy as np

    from ydb_vector_search_demo_spark.operators.ann import (
        power_iteration_gram,
    )

    rng_vals = []
    # planted: dim 2 carries ~10x the energy of the rest (8 dims)
    for i in range(40):
        v = [((i * 7 + d * 3) % 11 - 5) / 50.0 for d in range(8)]
        v[2] = ((i % 7) - 3) / 4.0
        rng_vals.append((i + 1, v))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rng_vals],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    got = {
        r["dim"]: (r["v_unit"], r["lambda_data"])
        for r in power_iteration_gram(
            df, iterations=3, dims=8, grid_bits=12, norm_bits=10
        ).collect()
    }

    g = np.array(
        [
            [
                int(np.floor(np.float64(np.float32(x)) * 4096))
                for x in v
            ]
            for _, v in rng_vals
        ],
        dtype=np.int64,
    )
    v = np.ones(8, dtype=np.int64)
    for _ in range(3):
        s = g @ v
        u = g.T @ s
        q = max(int(np.max(np.abs(u))) // 1024, 1)
        # truncate-toward-zero division, as both engines do
        v = np.array(
            [int(x) // q if x >= 0 else -((-int(x)) // q) for x in u],
            dtype=np.int64,
        )
    s = g @ v
    num = int((s.astype(object) ** 2).sum())
    vv = int((v * v).sum())
    lam = round(num / (len(g) * vv * 4096.0 * 4096.0), 6)
    want = {d + 1: (int(v[d]), lam) for d in range(8)}
    assert got == want
    # spectral law: the planted axis dominates the direction
    mags = {d: abs(u[0]) for d, u in got.items()}
    assert mags[3] == max(mags.values())  # dim is 1-based; axis 2 -> dim 3


def test_ivf_append_carries_keep_cols_to_filtered_probes(spark, tmp_path):
    """An append carries the store's metadata columns: a row appended
    with a new label is returned by a probe filtered on that label. At
    the old append the new row's label read NULL and the filtered probe
    found nothing. Pinned centroids, so no KMeans runs."""
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    schema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label STRING"
    base = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0, 0.0], "a") for i in range(4)]
        + [(10 + i, [0.1 * i, 1.0, 0.0, 0.0], "a") for i in range(4)],
        schema,
    )
    path = str(tmp_path / "ivf_meta")
    ann.write_store(base, path, ann._IvfRouter(cents), keep_cols=("label",))
    new = spark.createDataFrame([(99, [0.9, 0.2, 0.0, 0.0], "b")], schema)
    ann.ivf_append(cents, new, path, keep_cols=("label",))
    got = ann.ivf_search_parquet(
        spark, path, cents, [1.0, 0.0, 0.0, 0.0], k=5, nprobe=1,
        predicate="label = 'b'",
    ).collect()
    assert [r["vec_id"] for r in got] == [99]
    assert spark.read.parquet(path).filter("label IS NULL").count() == 0
