"""Physical-plan regression tests: the 100 TB posture is encoded in the
plan shape, so assert it directly (SURVEY.md §4). If one of these fails
after a change, the query still returns correct rows — but it stopped
being the plan we'd want on a 1000-executor cluster."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from ydb_vector_search_demo_spark.plans.catalog import QUERIES


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def _count_exec_nodes(df, simple_name: str) -> int:
    """Count physical operators by JVM class name in the EXECUTED plan
    tree, expanding each AQE query stage through its materialized
    .plan() (and AdaptiveSparkPlanExec through .executedPlan()) exactly
    once. QueryStageExec nodes are leaves of the tree, so a plain
    children() walk would see none of their contents, while the STRING
    rendering re-expands them per display section — this walk is the
    display-robust middle ground. ReusedExchange/stage-reuse nodes stay
    unexpanded leaves, so reused subtrees count once."""
    count = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if simple_name in cls:
            count += 1
        if "AdaptiveSparkPlan" in cls:
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in cls and "Reused" not in cls:
            stack.append(node.plan())
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return count


def test_knn_is_takeordered_no_shuffle(spark):
    plan = plan_of(spark, "knn_top5_cosine")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, "top-k must not shuffle the scored scan"


def test_knn_full_broadcasts_topk_side(spark):
    plan = plan_of(spark, "knn_top5_full")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, "k-row side must broadcast, not SMJ"


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "region_revenue")
    assert plan.count("BroadcastHashJoin") == 3, "customer/nation/region all broadcast"
    assert "SortMergeJoin" not in plan


def test_q3_single_shuffle_join_dims_broadcast(spark):
    plan = plan_of(spark, "tpch_q3_shipping")
    assert "BroadcastHashJoin" in plan, "filtered customer dim must broadcast"
    assert plan.count("SortMergeJoin") <= 1, "only lineitem<->orders may shuffle-join"
    assert "TakeOrderedAndProject" in plan, "top-10 must not globally sort"


def test_date_filter_reaches_parquet_scan(spark):
    plan = plan_of(spark, "order_priority_count")
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_knn_scan_prunes_columns(spark):
    plan = plan_of(spark, "knn_top5_cosine")
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "embedding" in scan and "vec_id" in scan
    assert "label" not in scan, "unused column must be pruned from the scan"


def test_asof_join_is_one_window_not_a_range_join(spark):
    plan = plan_of(spark, "events_asof_purchase_click")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        "as-of must be the union+window plan, never a range cross-join"
    )
    # one Exchange for the right-side pre-agg, one for the keyed window
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan


def test_range_join_broadcasts_the_band_table(spark):
    plan = plan_of(spark, "events_value_bands")
    assert "BroadcastNestedLoopJoin" in plan, (
        "non-equi join against 5 bands must broadcast, not shuffle"
    )
    assert "CartesianProduct" not in plan


def test_supplier_star_one_shuffle_join(spark):
    plan = plan_of(spark, "supplier_nation_revenue")
    # supplier+nation always broadcast; the year-filtered orders side may
    # also fit the broadcast threshold (3 BHJ, zero shuffle joins) or,
    # at larger SFs, fall back to a single SMJ with lineitem
    assert plan.count("BroadcastHashJoin") >= 2, "supplier+nation broadcast"
    assert plan.count("SortMergeJoin") <= 1, "only lineitem<->orders may shuffle"


@pytest.mark.parametrize(
    "name",
    ["text_quality", "doc_fingerprint", "dedup_exact_stats", "text_token_stats"],
)
def test_text_ops_stay_jvm_side(spark, name):
    # Higher-order array functions are interpreted JVM expressions (no
    # whole-stage codegen), which is fine; what must never appear in the
    # hot path is a Python eval node.
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "text analysis must not fall out of the JVM"
    )


def test_batch_knn_prefilters_before_global_window(spark):
    # the N×Q scored cross product must be cut to per-partition top-k
    # BEFORE the per-query window — a window straight over the cross
    # join would shuffle the whole product into Q skewed partitions.
    # Catalyst's InferWindowGroupLimit (Spark >= 3.5) provides the cut
    # as a Partial WindowGroupLimit below the exchange, fully JVM-side:
    # zero Python workers may appear anywhere in this hot path.
    plan = plan_of(spark, "batch_knn_cosine")
    assert plan.count("WindowGroupLimit") == 2, "need Partial + Final group-limit"
    below_shuffle = plan.split("Exchange hashpartitioning")[-1]
    assert "WindowGroupLimit" in below_shuffle and "Partial" in below_shuffle, (
        "the map-side Partial WindowGroupLimit must cut before the keyed shuffle"
    )
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan, "batch KNN must stay JVM-side"


def test_relational_agg_is_partial(spark):
    # map-side combine: a partial HashAggregate below the Exchange and a
    # final one above it — only 6 groups ever cross the shuffle.
    plan = plan_of(spark, "tpch_q1_pricing")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_store_lifecycle_broadcasts_tombstones_single_keyed_shuffle(spark):
    """Merge-on-read store view: the tombstone side must broadcast (a
    delete log is small relative to the store) and the only shuffles
    are the latest-wins window's key exchange — never a sort-merge join
    against the delete log."""
    plan = plan_of(spark, "store_lifecycle_counts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tree_recall_probe_filters_cells(spark):
    """The tree probe must reach the assignment as a cell filter (the
    shape that partition-prunes on the two-level store layout), not a
    post-scan filter of the whole corpus."""
    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.sources.tables import load_table

    embs = load_table(spark, SF_ORACLE, "embeddings")
    tree = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2)
    df = tree.search([0.1] * 64, k=5, nprobe_top=2, nprobe_sub=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "cell_top" in plan and "cell_sub" in plan
    assert "TakeOrderedAndProject" in plan, "probe result must stay a top-k"
    tree.assigned.unpersist()


def test_bm25_no_cartesian_and_stats_broadcast(spark):
    """BM25: per-term df and the one-row corpus stats must broadcast
    into the scoring join; nothing may plan a real cartesian (the
    1-row stats crossJoin is a broadcast nested loop by construction);
    the final top-k must not globally sort."""
    plan = plan_of(spark, "text_bm25_topk")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan


def test_hybrid_rrf_pools_stay_bounded(spark):
    """Both retrieval pools must reach the fusion join as bounded
    top-k plans (TakeOrderedAndProject), never a global sort of either
    corpus; the fusion itself is a tiny join."""
    plan = plan_of(spark, "hybrid_rrf_top5")
    assert plan.count("TakeOrderedAndProject") >= 2, "both pools top-k"
    assert "CartesianProduct" not in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan


def test_window_suite_single_window_node(spark):
    """All seven window functions share one spec -> ONE Window node
    over one keyed exchange (plus the final presentation sort)."""
    plan = plan_of(spark, "window_function_suite")
    assert plan.count("Window [") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_ngram_spans_single_hash_shuffle_no_join(spark):
    """The substring-dedup signal must be the windowed-count shape:
    no self-join back onto the exploded hashes (the old shape
    evaluated the window build once per branch)."""
    plan = plan_of(spark, "dedup_ngram_spans")
    assert "SortMergeJoin" not in plan.split("Window")[0], (
        "no join may feed the frequency window"
    )
    assert "Window" in plan
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in plan


def test_quant_ivf_fixed_pruned_scan_no_python(spark):
    """The pinned pruned×byte-reduced serving row: the cell filter and
    the coarse cut stay JVM-side; the rescore side broadcasts the pool."""
    plan = plan_of(spark, "quant_ivf_fixed")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_fixed_store_probe_prunes_partitions(spark):
    """The residual IVF-PQ serving row probes the written store with a
    centroid_id partition filter (the 100 TB prune) and broadcasts the
    coarse pool into the float rescore."""
    plan = plan_of(spark, "ivfpq_fixed")
    # several scans appear (store + float relation); the STORE scan's
    # PartitionFilters section must carry the centroid cut
    sections = [p.split("]")[0] for p in plan.split("PartitionFilters:")[1:]]
    assert any("centroid_id" in sec for sec in sections), (
        f"nprobe cut must reach the store scan as a partition filter: {sections}"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_ivf_batch_fixed_membership_broadcast_and_group_limit(spark):
    """The batched probe machinery: broadcast membership join (never
    SMJ/cartesian on the corpus) and a Partial WindowGroupLimit below
    the per-query exchange."""
    plan = plan_of(spark, "ann_ivf_batch_fixed")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rotation_store_serve_reads_prefix_store_only_for_coarse(spark):
    """The rotated-store serving split: coarse side scans the d'-wide
    prefix store (ReadSchema carries `prefix`, not `embedding`); the
    float relation joins only for the broadcast candidates."""
    plan = plan_of(spark, "rotation_store_serve")
    assert "prefix" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_graph_search_big_sides_never_shuffle(spark):
    """Graph serving: every frontier/candidate/visited set is
    broadcast-sized by construction, so the edge list and the vector
    store must only ever be the probe side of broadcast joins — no
    SortMergeJoin, no cartesian anywhere in the multi-round
    composition. Since r8 the SERVED plan is lineage-truncated
    (per-round localCheckpoint — tests/test_graph_search.py pins that
    shape), so the join property is asserted on the un-truncated
    composition via ``checkpoint=False`` (plan-inspection-only mode);
    the graded row's final plan must contain no join at all."""
    from pyspark.sql import functions as F

    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.sources.tables import load_table

    embs = load_table(spark, SF_ORACLE, "embeddings")
    graph = ann.knn_graph_bucketed(
        embs.withColumn("_one", F.lit(0)), "_one", k=4,
    ).select("src", "dst")
    q = spark.createDataFrame(
        [(0, [0.1] * 64)], "query_id INT, query_vec ARRAY<DOUBLE>"
    )
    lazy = ann.graph_search_visited(
        graph, embs.select("vec_id", "embedding"), q, entry_ids=[0, 1],
        beam=4, rounds=3, checkpoint=False,
    )
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    served = plan_of(spark, "ann_graph_fixed")
    assert "Join" not in served, "served plan must be checkpoint reads only"


def test_graph_append_no_smj_no_python(spark):
    """Graph append (ann_graph_append_fixed): search joins broadcast
    like the serving row; the only shuffles are the bucket graph build
    and the global re-prune window — never an SMJ of candidate sets,
    never a cartesian, never a Python boundary."""
    plan = plan_of(spark, "ann_graph_append_fixed")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_argmin_per_brand_is_one_aggregate_no_window(spark):
    """cheapest_line_per_brand encodes argmin as a lexicographic
    struct-min AGGREGATE: partial min per map task combines through
    one brand-keyed exchange — a ranking-window formulation would
    shuffle and sort every lineitem instead."""
    plan = plan_of(spark, "cheapest_line_per_brand")
    assert "Window" not in plan, plan[:1500]
    assert "partial_min" in plan or "min(" in plan
    assert "BroadcastHashJoin" in plan, "part dim must broadcast"


def test_blame_shape_top10_is_takeordered(spark):
    """lineitem_blame_per_supplier: the semi+anti composition ends in
    a TakeOrderedAndProject (never a global sort for a top-10), the
    supplier dim broadcasts, and both existence probes are real
    semi/anti joins."""
    plan = plan_of(spark, "lineitem_blame_per_supplier")
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_is_grouped_arrow_pass(spark):
    """corpus_pack_sequences: the sequential walk runs as ONE
    Arrow-batched grouped-map pass (FlatMapGroupsInPandas) over the
    bucket exchange — the bucket is the parallelism unit."""
    plan = plan_of(spark, "corpus_pack_sequences")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_hourly_anomaly_single_events_scan(spark):
    """events_hourly_anomaly: the hours relation is localCheckpointed
    before its two consumers (moments + z projection), so the RESULT
    plan contains zero parquet scans — events was scanned exactly
    once, inside the checkpoint-building job."""
    plan = plan_of(spark, "events_hourly_anomaly")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final

def final_plan_of(spark, name: str) -> str:
    """Execute the query so AQE finalizes, then return only the
    '== Final Plan ==' section (the Initial Plan echo double-counts
    nodes — the house convention from the funnel/attribution guards)."""
    df = QUERIES[name](spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("Initial Plan")[0]


def test_q19_residues_push_to_both_scans(spark):
    """tpch_q19_disjunctive: the OR-of-ANDs spans both join sides, so
    no clause pushes whole — the plan claim is that Catalyst extracts
    the per-table RESIDUES of the disjunction onto EACH scan (quantity
    bands onto lineitem, brand+size bands onto part) while the full
    disjunction runs as the broadcast join's post-condition. The
    PushedFilters metadata string is truncated at 100 chars, so the
    residues are asserted on the untruncated Filter nodes feeding each
    scan plus the PushedFilters prefixes."""
    import re

    final = final_plan_of(spark, "tpch_q19_disjunctive")
    lines = final.splitlines()
    # lineitem side: the quantity-band residue reaches the scan
    li_filter = [
        l for l in lines
        if "Filter" in l and "l_quantity" in l and "l_partkey" in l
    ]
    assert li_filter, final[:3000]
    f = li_filter[0]
    for lo, hi in ((1.0, 11.0), (10.0, 20.0), (20.0, 30.0)):
        assert re.search(rf"l_quantity#\d+ >= {lo}", f), f
        assert re.search(rf"l_quantity#\d+ <= {hi}", f), f
    li_scan = [l for l in lines if "FileScan" in l and "lineitem.parquet" in l][0]
    assert "l_quantity" in li_scan.split("PushedFilters:")[1], li_scan
    # part side: the brand/size residue reaches the dim scan
    p_filter = [l for l in lines if "Filter" in l and "p_brand" in l]
    assert p_filter, final[:3000]
    pf = p_filter[0]
    for brand, hi in (("Brand#1", 5), ("Brand#2", 10), ("Brand#3", 15)):
        assert f"= {brand})" in pf, pf
        assert re.search(rf"p_size#\d+ <= {hi}", pf), pf
    p_scan = [l for l in lines if "FileScan" in l and "part.parquet" in l][0]
    assert "p_size" in p_scan.split("PushedFilters:")[1], p_scan
    # the full cross-table disjunction is the join's post-condition
    join = [l for l in lines if "BroadcastHashJoin" in l]
    assert join and "p_brand" in join[0] and "l_quantity" in join[0], final[:3000]
    assert "SortMergeJoin" not in final and "CartesianProduct" not in final


def test_q18_having_gate_joins_back_broadcast(spark):
    """tpch_q18_large_orders: the quantity gate is a partial-
    aggregatable grouped sum (map-side combine before the one keyed
    exchange), and the rehydration join-back runs as broadcast hash
    joins in the FINAL AQE plan — the HAVING survivor set is tiny by
    construction, so the fact table is never shuffle-joined twice —
    ending in a TakeOrderedAndProject for the top-20."""
    final = final_plan_of(spark, "tpch_q18_large_orders")
    assert "partial_sum" in final, final[:2000]
    assert final.count("BroadcastHashJoin") == 2, final[:3000]
    assert "SortMergeJoin" not in final
    assert "TakeOrderedAndProject" in final
    # exactly one SHUFFLE exchange (the gate aggregate's orderkey
    # repartition); everything else moves by broadcast
    import re

    shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+)", final)
    assert shuffles == ["hashpartitioning"], shuffles


def test_q15_rev_relation_single_fact_scan(spark):
    """tpch_q15_top_supplier: the supplier-grain rev relation is
    localCheckpointed before its two consumers (global max + equality
    gate), so the RESULT plan scans lineitem zero times — the fact
    table was read exactly once, inside the checkpoint-building job."""
    final = final_plan_of(spark, "tpch_q15_top_supplier")
    assert "lineitem" not in final, final[:2000]
    assert final.count("Scan parquet") <= 1, final[:2000]  # supplier dim only
    assert "BroadcastHashJoin" in final


def test_eval_metrics_zero_scan_final_plan(spark):
    """retrieval_eval_metrics: ranked and qrels are localCheckpointed
    before the metric assembly (qrels alone feeds THREE branches —
    retrieved-gain join, ideal ranking, n_rel — each of which would
    otherwise re-run its tokenize+aggregate subplan; 6 corpus scans
    observed unpinned), so the RESULT plan reads zero parquet files."""
    plan = plan_of(spark, "retrieval_eval_metrics")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]


def test_bucketed_join_revenue_has_no_exchange_below_join(spark):
    """r11 wave 11: the graded bucketed-join row must actually read
    co-located buckets — SortMergeJoin with NO Exchange on either
    input (the only allowed Exchange sits above, for the final
    5-group aggregation). Guards the row's whole point: pay one
    layout shuffle at write time, never again per query."""
    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES

    df = QUERIES["bucketed_join_revenue"](spark, SF_SMOKE)
    assert df.count() > 0  # materialize THIS plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "SortMergeJoin" in final, final[:1500]
    below = final.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below, (
        "bucketed join must read co-located buckets, not shuffle:\n"
        + below[:1500]
    )


def test_calibration_scores_documents_once(spark):
    """r11 wave 15 recompute guard: the calibration row's dense bin
    spine feeds two branches (the total and the final projection);
    without a checkpoint each branch re-runs the lineage INCLUDING
    the per-feature md5 classifier scoring — the one expensive pass
    in the row. With the 10-row state checkpointed, the FINAL plan
    contains ZERO parquet scans (the scoring ran exactly once, at
    checkpoint materialization). The hourly-anomaly guard pattern;
    the cheap-grain siblings (benford / k-anonymity / A/B) keep their
    multi-scan plans deliberately — their upstream is one
    scan+groupBy, and a checkpoint barrier costs more than the
    rescan (measured: collect-equal at sf0.1)."""
    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES

    df = QUERIES["corpus_classifier_calibration"](spark, SF_SMOKE)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    n_scan = final.count("Scan parquet")
    assert n_scan == 0, (
        f"{n_scan} parquet scans in the final plan — the classifier "
        f"scoring is being recomputed per branch"
    )


def test_ahash_band_join_keys_include_bv(spark):
    """r11 verdict missing #3: the band-LSH candidate join must key on
    the band VALUE, not on ``band`` alone — ``band`` has only 8
    distinct values, so a band-only join is a near-cross-product that
    a post-join ``bva = bvb`` filter cannot repair at scale. The
    operator now writes the explicit two-key equi-join, and this
    guard pins it: every hash join in the FINAL plan that keys on
    ``band`` also keys on ``bv``, and no nested-loop/cartesian join
    appears anywhere."""
    import re

    final = final_plan_of(spark, "multimodal_image_ahash_pairs")
    assert "BroadcastNestedLoopJoin" not in final, final[:2000]
    assert "CartesianProduct" not in final, final[:2000]
    join_lines = [
        l for l in final.splitlines()
        if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", l)
    ]
    assert join_lines, final[:2000]
    band_keyed = [l for l in join_lines if re.search(r"\bband#\d+", l)]
    assert band_keyed, "no band-keyed join found:\n" + final[:2000]
    for l in band_keyed:
        # candidate joins key on (band, bv); the verify join keys on
        # (b, band) — any join seeing band must carry a second,
        # selective key next to it
        assert re.search(r"\bbv[ab]?#\d+", l) or re.search(r"\bb#\d+", l), l


def test_power_iteration_zero_keyed_shuffles(spark):
    """r12 wave 22 plan claim: the power-iteration readout (and by
    the same construction every unrolled step) moves data only
    through broadcast (the 1-row v) and ONE global SinglePartition
    aggregate — never a keyed Exchange. A keyed hashpartitioning
    appearing here would mean the G·v = Σ x(xᵀv) one-pass identity
    regressed into a dims-keyed shuffle."""
    import re

    final = final_plan_of(spark, "ann_power_iteration_fixed")
    keyed = re.findall(r"Exchange hashpartitioning\(([^,]+)", final)
    assert keyed == [], keyed


def test_span_corruption_zero_keyed_shuffles(spark):
    """r12 wave 23 plan claim: span-corruption example generation is
    pure map-side — the only Exchange in the FINAL plan is the
    rangepartitioning of the row's own output ORDER BY; no keyed
    (hashpartitioning) shuffle and no aggregate anywhere (the
    embarrassingly-parallel shape the docstring promises at 100 TB)."""
    import re

    final = final_plan_of(spark, "corpus_span_corruption")
    keyed = re.findall(r"Exchange hashpartitioning\(([^,]+)", final)
    assert keyed == [], keyed
    assert "HashAggregate" not in final and "SortAggregate" not in final


def test_kmeans_readout_single_keyed_shuffle(spark):
    """r12 wave 19 plan claim: after the checkpointed training steps,
    the k-means readout's FINAL plan moves data through exactly ONE
    keyed Exchange — the per-cell aggregate on _cid — with the
    centroid L1 side joined by broadcast, never sort-merge. (Each
    unrolled training iteration has the same shape by construction:
    broadcast-map assignment + one map-combinable update groupBy.)"""
    import re

    final = final_plan_of(spark, "ann_kmeans_step_fixed")
    keyed = re.findall(r"Exchange hashpartitioning\(([^,)]+)", final)
    assert len(keyed) == 1 and keyed[0].startswith("_cid"), keyed
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" in final


def test_interleaved_pack_builds_no_payload_python_stage(spark):
    """r13 wave 27 plan claim: the alignment/packing path reads the
    media side at the METADATA grain — the ONLY Python/Arrow stage in
    the final plan is the packer's FlatMapGroupsInPandas walk; no
    MapInPandas payload synthesis ever runs (an alignment join is a
    metadata join at any scale)."""
    final = final_plan_of(spark, "multimodal_interleaved_pack")
    assert "FlatMapGroupsInPandas" in final, final[:2000]
    assert "MapInPandas" not in final, final[:2000]
    assert "BroadcastNestedLoopJoin" not in final, final[:2000]


def test_unigram_viterbi_is_map_side_after_word_rollup(spark):
    """r13 wave 26 plan claim: each Viterbi E-step is a MAP-SIDE fold
    over the word grain under a broadcast score map — the final plan
    carries no Python stage at all (the DP is pure Column codegen)
    and every join is a broadcast (the vocab/score relations are
    vocab-bounded)."""
    final = final_plan_of(spark, "corpus_unigram_lm")
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]
    assert "SortMergeJoin" not in final, final[:2000]
    assert "CartesianProduct" not in final, final[:2000]


def test_doremi_domain_tail_is_broadcast_joined(spark):
    """r13 wave 30 plan claim: after the one token-keyed join back,
    everything collapses to the K-row domain grain — the domain-total
    and vocab-stat attaches are broadcasts, and no Python stage
    exists (the pinned exponential is a Column expression)."""
    final = final_plan_of(spark, "corpus_doremi_weights")
    assert "BroadcastHashJoin" in final, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]
    assert "CartesianProduct" not in final, final[:2000]


def test_wordpiece_training_stays_jvm_and_broadcast(spark):
    """r14 wave 33 plan claim: WordPiece training is the BPE skeleton
    — everything JVM-side (the merge fold is F.aggregate, a Column
    expression; no Python stage), no SortMergeJoin and no
    CartesianProduct anywhere (the per-step symbol tables are
    checkpointed, so the unigram_lm guard convention applies:
    negatives over the final readout plan)."""
    final = final_plan_of(spark, "corpus_wordpiece_merges")
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]
    assert "SortMergeJoin" not in final, final[:2000]
    assert "CartesianProduct" not in final, final[:2000]


def test_repetition_plan_collapses_to_source_grain(spark):
    """r14 wave 34 plan claim: one map-combinable token-count pass to
    the source grain, the (T, den) scalars broadcast back — no
    Python stage, no SortMergeJoin, no CartesianProduct beyond the
    1-row broadcast cross (BroadcastNestedLoopJoin)."""
    final = final_plan_of(spark, "corpus_repetition_plan")
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]
    assert "SortMergeJoin" not in final, final[:2000]
    assert "CartesianProduct" not in final, final[:2000]
    assert "HashAggregate" in final, final[:2000]


def test_cross_shard_dedup_is_cell_bucketed_single_arrow_pass(spark):
    """r14 wave 35 plan claim: the cross-shard pair join is keyed on
    the cell (never a cartesian), and the only Python stage is the
    ONE grouped-Arrow union-find pass (bucketed_components) — no
    row-at-a-time Python anywhere.

    r14 optimization note: the ONE-pass count is asserted on the
    OPTIMIZED LOGICAL plan — after the probe-side fan_out, AQE
    replans the comp join to broadcast and the union-find lands
    inside a BroadcastQueryStage, which the physical string shows by
    stage REFERENCE in some sections and expands in others (the
    nested final/initial echoes make a string count over the
    physical plan display-dependent; still executed exactly once).
    The no-cartesian / no-row-Python negatives keep running against
    the executed physical string — all sections."""
    df = QUERIES["dedup_cross_shard_fixed"](spark, SF_ORACLE)
    df.collect()
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("FlatMapGroupsInPandas") == 1, logical[:2000]
    # r15 (r14 ADVICE): additionally bound the PHYSICAL occurrence with
    # a display-robust count — walk the executed plan tree, expanding
    # AQE query stages through their .plan() exactly once (ReusedExchange
    # stays a leaf, so stage reuse is not double-counted) — so a
    # physical regression that re-executes the union-find (a lost
    # exchange/stage reuse) fails even though the tree's STRING
    # rendering re-expands BroadcastQueryStage sections unpredictably.
    assert _count_exec_nodes(df, "FlatMapGroupsInPandasExec") == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "CartesianProduct" not in final, final[:2000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, f"{node} in plan:\n" + plan[:2000]


def test_bitext_mining_is_bucketed_with_window_cuts(spark):
    """r14 wave 36 plan claim: the cross-side scored join is keyed on
    the bucket (never a cartesian), the rank-k cuts are
    WindowGroupLimit windows (map-side Partial cut before the keyed
    shuffle), and nothing falls out of the JVM."""
    final = final_plan_of(spark, "corpus_bitext_margin")
    assert "CartesianProduct" not in final, final[:2000]
    assert "WindowGroupLimit" in final, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_hourly_anomaly_fdr_fully_checkpointed(spark):
    """events_hourly_anomaly_fdr: the grain, scored (pinned-p) and
    ranked relations are all localCheckpointed before their second
    consumers, so the RESULT plan contains zero parquet scans (events
    was scanned exactly once, inside the grain checkpoint job) and no
    window re-sort — only the k* broadcast over the materialized
    ranked rows."""
    plan = plan_of(spark, "events_hourly_anomaly_fdr")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final
    assert "Window" not in final, final[:2000]


def test_wordpiece_fertility_is_jvm_side_maxmatch(spark):
    """corpus_wordpiece_fertility: the MaxMatch fold is pure JVM
    expression work (no Python eval nodes anywhere in the plan); the
    driver-bounded vocabulary enters as literal IN-sets (r15 — hash
    membership instead of the single-row maps' linear scans, and the
    hm/cm broadcast crossJoins are gone); the only parquet scan in the
    final plan is the lang-word grain — training and the word grain
    live behind checkpoints."""
    plan = plan_of(spark, "corpus_wordpiece_fertility")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 1, final[:2000]
    assert "BroadcastNestedLoopJoin" not in final, final[:2000]
    # the literal-membership probes (INSET once past the optimizer's
    # conversion threshold, IN for the short piece-length slices)
    assert "INSET" in final or "IN (" in final, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_ks_drift_single_scan_and_keyed_window(spark):
    """corpus_ks_drift: the (group, value) grain is localCheckpointed
    before its five consumers, so the final plan holds zero parquet
    scans; the cumulative CDFs run as ONE keyed window over the grid
    (no Python nodes); the gap relation is checkpointed before the
    max/argmax branches, so no window re-sort survives either."""
    plan = plan_of(spark, "corpus_ks_drift")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_pair_bleu_fully_checkpointed_jvm_side(spark):
    """corpus_pair_bleu: the pair feed, token grain, gram counts, the
    materialized y and the horner stage are all behind checkpoint
    barriers, so the final plan holds zero parquet scans and only the
    2^6 squaring tree over a plain column — and the whole chain is
    JVM expression work (no Python eval nodes; the codegen-split
    barriers keep every stage compilable)."""
    plan = plan_of(spark, "corpus_pair_bleu")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_mi_dependence_zero_scan_assembly(spark):
    """corpus_lang_source_mi: the cell grain is checkpointed before
    its three consumers (marginals + joined terms), so the final plan
    reads zero parquet; the three ordered folds and the one-row
    assembly are pure JVM work (no Python nodes)."""
    plan = plan_of(spark, "corpus_lang_source_mi")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_detector_ap_score_grain_no_global_sort(spark):
    """corpus_detector_ap: the corpus collapses onto the checkpointed
    per-detector score grain (one scan inside the checkpoint job, so
    the final plan reads zero parquet); the windows run over the
    grain relation only; no Python nodes."""
    plan = plan_of(spark, "corpus_detector_ap")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_holt_winters_grain_bounded_fold(spark):
    """events_holt_winters: the corpus collapses inside the hourly
    checkpoint job, the assembled-series prep is checkpointed, and
    the recurrence is ONE JVM aggregate fold on that single row —
    zero parquet scans and zero Python nodes in the final plan."""
    plan = plan_of(spark, "events_holt_winters")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_forecast_backtest_broadcast_joins(spark):
    """events_forecast_backtest: both prediction joins broadcast (the
    1-row HW state; the 24-row hod means), the hourly grains live
    behind checkpoints (zero parquet scans in the final plan), and
    everything is JVM-side."""
    plan = plan_of(spark, "events_forecast_backtest")
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 0, final[:2000]
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in final, f"{node} in plan:\n" + final[:2000]


def test_search_with_summary_runs_at_most_two_jobs(spark):
    """The serving path is one scored top-k joined to payloads (a
    broadcast job and the collect); context, prompt and summary are
    built on the driver and the reply collects as a local relation.
    A window, aggregate or Python-UDF stage would show as extra jobs."""
    from ydb_vector_search_demo_spark.pipeline import rag

    query = "как оформить возврат"
    rag.search_with_summary(spark, SF_ORACLE, query).collect()  # resolves the store
    sc = spark.sparkContext
    group = "test-search-with-summary-jobs"
    sc.setJobGroup(group, group)
    try:
        rows = rag.search_with_summary(spark, SF_ORACLE, query).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(rows) == 1
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs


def _leaf_scans(df) -> list[tuple[str, str]]:
    """(class, description) of every leaf of ``df``'s executed plan,
    looking through adaptive plans and their query stages; ``df`` has
    run, so adaptive plans are final."""
    leaves = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if "AdaptiveSparkPlan" in cls:
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in cls and "Reused" not in cls:
            stack.append(node.plan())
            continue
        children = node.children()
        if children.size() == 0:
            leaves.append((cls, node.toString()))
        for i in range(children.size()):
            stack.append(children.apply(i))
    return leaves


def _parquet_embedding_scans(leaves) -> list[str]:
    # a leaf's description is truncated before its path; its output names
    # the embedding column
    return [s for cls, s in leaves if cls == "FileSourceScanExec" and "embedding#" in s]


def test_search_statement_reads_resident_embeddings(spark):
    """A steady-state request within ``rag.RESIDENT_SHARE`` of the free
    storage memory is one statement: the embeddings come from the
    handle's in-memory relation (no parquet scan of them), one
    TakeOrderedAndProject keeps the top-k and one BroadcastHashJoin
    attaches the payloads."""
    from ydb_vector_search_demo_spark.functions.vector import distance_sql
    from ydb_vector_search_demo_spark.pipeline import rag

    query = "как оформить возврат"
    rag.search_with_summary(spark, SF_ORACLE, query).collect()  # resolves the store
    handle = rag._STORE_HANDLES[(spark, SF_ORACLE)]
    assert handle.resident is not None
    score = distance_sql("embedding", rag.embed_query_stub(query), "cosine")
    df = rag._scored_docs(handle, handle.resident_view, score, 5)
    assert len(df.collect()) == 5
    leaves = _leaf_scans(df)
    assert any(cls == "InMemoryTableScanExec" for cls, _ in leaves), leaves
    assert not _parquet_embedding_scans(leaves), leaves
    assert _count_exec_nodes(df, "TakeOrderedAndProject") == 1
    assert _count_exec_nodes(df, "BroadcastHashJoin") == 1


def test_search_statement_above_resident_share_reads_parquet(spark, tmp_path, monkeypatch):
    """A store whose bytes exceed ``rag.RESIDENT_SHARE`` of the free
    storage memory (here: a share of 0) persists nothing; the same
    statement scans its embeddings from parquet and serves the same
    prompt as a resident store."""
    import shutil

    from ydb_vector_search_demo_spark.pipeline import rag

    query = "как оформить возврат"
    d = str(tmp_path)
    for name in ("documents", "embeddings"):
        shutil.copy(f"{SF_ORACLE}/{name}.parquet", d)
    want = rag.search_with_summary(spark, SF_ORACLE, query).collect()
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    monkeypatch.setattr(rag, "RESIDENT_SHARE", 0.0)
    assert rag.search_with_summary(spark, d, query).collect() == want
    handle = rag._STORE_HANDLES[(spark, d)]
    assert handle.resident is None
    assert handle.resident_view == handle.embs_view
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == persisted
    score = rag._score_sql(query, "cosine", rag.embed_query_stub)
    df = rag._scored_docs(handle, handle.resident_view, score, 5)
    assert len(df.collect()) == 5
    leaves = _leaf_scans(df)
    assert not any(cls == "InMemoryTableScanExec" for cls, _ in leaves), leaves
    assert _parquet_embedding_scans(leaves), leaves
    rag.clear_store_cache()
