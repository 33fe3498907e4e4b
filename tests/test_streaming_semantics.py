"""Watermark / late-data semantics for the streaming hourly aggregation
(SURVEY.md §2.5 'Streaming' north-star): rows older than the watermark
are dropped, and append-mode windows emit only once the watermark passes
their end. Uses two micro-batches (maxFilesPerTrigger=1, distinct file
mtimes) so the watermark actually advances between files."""

from __future__ import annotations

import os
import time
from datetime import datetime

from pyspark.sql import functions as F

from ydb_vector_search_demo_spark.streaming.events import streaming_hourly_counts

SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _write_file(
    spark, rows, directory: str, name: str, mtime: float, schema: str = SCHEMA
) -> None:
    df = spark.createDataFrame(rows, schema).coalesce(1)
    staging = os.path.join(directory, f"_stage_{name}")
    df.write.mode("overwrite").parquet(staging)
    part = next(
        f for f in os.listdir(staging) if f.endswith(".parquet") and f.startswith("part-")
    )
    dest = os.path.join(directory, name)
    os.rename(os.path.join(staging, part), dest)
    os.utime(dest, (mtime, mtime))


def test_watermark_drops_late_events(spark, tmp_path):
    d = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)

    def ev(eid, hh, mm):
        return (eid, datetime(2024, 1, 1, hh, mm), 1, "view", 1.0, "{}")

    def run_batch(name: str) -> list:
        # One availableNow run per file; the shared checkpoint carries
        # the watermark across runs, so batch boundaries are exact.
        # (foreachBatch, because the memory sink can't resume from a
        # checkpoint; in local mode the collect lands in-process.)
        collected: list = []
        stream = spark.readStream.schema(SCHEMA).parquet(d)
        agg = streaming_hourly_counts(stream, watermark="10 minutes")
        q = (
            agg.writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return collected

    now = time.time()
    # run 1: two events in the 10:00 window → watermark := 10:05 - 10min
    _write_file(spark, [ev(1, 10, 0), ev(2, 10, 5)], d, "a.parquet", now - 120)
    rows1 = run_batch("wm_run1")
    assert rows1 == [], "10:00 window must stay open while watermark < its end"

    # run 2: an event at 08:00 — its window end 09:00 is below the
    # restored watermark 09:55 → DROPPED; an event at 12:00 advances the
    # watermark to 11:50, releasing the 10:00 window for append emission.
    _write_file(spark, [ev(3, 8, 0), ev(4, 12, 0)], d, "b.parquet", now - 60)
    rows2 = run_batch("wm_run2")

    # Only the 10:00 window is emitted: the late 08:00 event left no
    # state (otherwise its window, whose end is below the final
    # watermark, would appear with n_events=1); 12:00 is still open.
    assert [(r["window_start"], r["n_events"]) for r in rows2] == [
        (datetime(2024, 1, 1, 10, 0), 2)
    ]


def test_streaming_hourly_equals_batch(spark, tmp_path):
    from ydb_vector_search_demo_spark.sources.tables import load_table
    from ydb_vector_search_demo_spark.streaming.events import (
        hourly_counts,
        read_events_stream,
    )

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, sf)
    agg = streaming_hourly_counts(stream, watermark="3650 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("sb_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.table("sb_test").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in hourly_counts(load_table(spark, sf, "events")).collect()
    }
    assert got == expected


def test_running_topk_bounded_state_equals_batch(spark, tmp_path):
    """The O(k)-state streaming top-k (applyInPandasWithState) folds
    candidates across micro-batches: after two batches the final update
    equals the batch-sorted top-k, and no emission ever exceeds k rows
    (the bounded-state evidence)."""
    from ydb_vector_search_demo_spark.streaming.stateful import running_topk

    directory = str(tmp_path / "scores")
    os.makedirs(directory)
    sch = "vec_id LONG, score DOUBLE"
    now = time.time()

    def write(rows, name, mtime):
        df = spark.createDataFrame(rows, sch).coalesce(1)
        staging = os.path.join(directory, f"_stage_{name}")
        df.write.mode("overwrite").parquet(staging)
        part = next(
            f for f in os.listdir(staging)
            if f.endswith(".parquet") and f.startswith("part-")
        )
        dest = os.path.join(directory, name)
        os.rename(os.path.join(staging, part), dest)
        os.utime(dest, (mtime, mtime))

    write([(1, 0.9), (2, 0.1), (3, 0.5), (4, 0.7)], "f1.parquet", now - 60)
    write([(5, 0.05), (6, 0.45), (7, 0.95)], "f2.parquet", now)

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )
    topk = running_topk(stream, k=3, id_col="vec_id", score_col="score")
    batches: list[list] = []
    q = (
        topk.writeStream.foreachBatch(
            lambda df, _bid: batches.append(df.collect())
        )
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    non_empty = [b for b in batches if b]
    assert non_empty, "stream emitted nothing"
    assert all(len(b) <= 3 for b in non_empty)
    final = [(r["id"], r["score"]) for r in non_empty[-1]]
    # global top-3 by (score asc, id): 0.05(5), 0.1(2), 0.45(6)
    assert final == [(5, 0.05), (2, 0.1), (6, 0.45)]


def test_streaming_tree_ingest_matches_batch_assignment(spark, tmp_path):
    """Two micro-batches of embedding files stream through the map-only
    tree routing into the partitioned store; contents must equal the
    batch tree_assign of the same rows, and a second drop must only
    append (exactly-once via the checkpoint)."""
    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.operators import ann
    from ydb_vector_search_demo_spark.sources.tables import load_table
    from ydb_vector_search_demo_spark.streaming import ingest

    embs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    tree = ann.build_kmeans_tree_index(embs, k_top=4, k_sub=2)

    src = tmp_path / "drops"
    src.mkdir()
    store = str(tmp_path / "stream_store")
    ckpt = str(tmp_path / "ckpt")
    first = embs.filter("vec_id % 2 = 0")
    second = embs.filter("vec_id % 2 = 1")
    first.write.parquet(str(src / "batch1"))

    stream = ingest.read_embeddings_stream(spark, str(src) + "/*", dim_hint_df=embs)
    q = ingest.stream_ingest(
        stream, ann._TreeRouter(tree.centroids_top, tree.centroids_sub),
        store, ckpt,
    )
    q.awaitTermination(120)

    got1 = spark.read.parquet(store)
    assert got1.count() == first.count()

    second.write.parquet(str(src / "batch2"))
    q2 = ingest.stream_ingest(
        ingest.read_embeddings_stream(spark, str(src) + "/*", dim_hint_df=embs),
        ann._TreeRouter(tree.centroids_top, tree.centroids_sub), store, ckpt,
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(store).select(
        "vec_id", "cell_top", "cell_sub"
    )
    batch = ann.tree_assign(
        tree.centroids_top, tree.centroids_sub, embs
    ).select("vec_id", "cell_top", "cell_sub")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    tree.assigned.unpersist()


def test_watermark_drop_rule_pinned(spark, tmp_path):
    """Empirical pin of the late-data rule the streaming_late_data_hourly
    oracle replays: (a) the watermark USED in batch k is max(event time
    through batch k-1) - delay; (b) a late row merges into still-LIVE
    window state (batch 2's 10:05 row is NOT dropped — its window is
    only evicted at the end of that same batch); (c) a late row whose
    window was evicted in an earlier batch IS dropped (batch 3's 10:05
    twin); (d) append mode emits exactly the windows whose end <= the
    final watermark."""
    import os
    import time as _time
    from datetime import datetime as DT

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = str(tmp_path / "wm")
    os.makedirs(d)
    ts_t = pa.timestamp("us")
    mk = lambda ts: pa.table({"ts": pa.array(ts, ts_t), "v": [1] * len(ts)})
    pq.write_table(mk([DT(2024, 1, 1, 10, 0), DT(2024, 1, 1, 20, 0)]), f"{d}/b0.parquet")
    pq.write_table(mk([DT(2024, 1, 1, 20, 10)]), f"{d}/b1.parquet")
    pq.write_table(mk([DT(2024, 1, 1, 10, 5), DT(2024, 1, 1, 20, 20)]), f"{d}/b2.parquet")
    now = _time.time()
    for i, f in enumerate(["b0", "b1", "b2"]):
        os.utime(f"{d}/{f}.parquet", (now - 100 + 10 * i,) * 2)
    raw = (
        spark.readStream.schema("ts TIMESTAMP, v INT")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    agg = (
        raw.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("h"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, f"exactly batch 3's late row must drop, got {dropped}"
    got = sorted((str(r["h"]), r["n"]) for r in spark.table("wm_pin").collect())
    # 10:00 window: b0's row only (b2's 10:05 dropped); 20:00 window
    # (end 21:00 > final wm 19:50) never emitted.
    assert got == [("2024-01-01 10:00:00", 1)], got


def test_late_data_hourly_actually_drops_rows(spark):
    """At smoke SF the 3-batch replay must drop a nonzero number of
    late rows — otherwise the row degenerates to the plain hourly
    count and the oracle's late-drop branch is dead code."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from ydb_vector_search_demo_spark.sources.tables import load_table
    from ydb_vector_search_demo_spark.streaming import events as EV

    agg = EV.late_data_hourly_counts(spark, SF_SMOKE, delay="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped > 0, "no late rows dropped — watermark never fired"
    # The emitted result must equal the pinned rule, recomputed in
    # batch Spark (the same formula the DuckDB oracle replays): keep
    # batch-3 rows only if their window outlived the batch-1 watermark,
    # emit windows the final watermark closed. Note the state-level
    # drop metric above undercounts total lateness — rows can also be
    # cut by the un-metered input-side watermark filter — which is why
    # this asserts the full rule, not full_count - metric.
    ev = load_table(spark, SF_SMOKE, "events")
    emitted = spark.table("late_smoke")
    wm1 = ev.filter(F.col("event_id") % 3 == 0).agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("wm")
    ).first()["wm"]
    wm_final = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("wm")
    ).first()["wm"]
    want = (
        ev.withColumn("w", F.window("ts", "1 hour"))
        .filter(
            (F.col("event_id") % 3 != 2) | (F.col("w.end") > F.lit(wm1))
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(wm_final))
        .select(F.col("w.start").alias("hour_start"), "n")
    )
    got_rows = sorted(tuple(r) for r in emitted.collect())
    want_rows = sorted(tuple(r) for r in want.collect())
    assert got_rows == want_rows
    # and lateness really removed rows from the emitted range
    full_total = (
        ev.withColumn("w", F.window("ts", "1 hour"))
        .filter(F.col("w.end") <= F.lit(wm_final))
        .count()
    )
    assert full_total > sum(r[1] for r in got_rows)


def test_stream_join_state_eviction_law(spark, tmp_path):
    """State-eviction law for the stream-stream purchase↔click join
    (streaming.events.purchase_click_pairs): with a FINITE watermark
    over a deterministic 3-batch replay, (a) buffered click state is
    observably REMOVED once no non-late purchase can reach back to it
    (c_ts + window < watermark), (b) a reachable-but-late purchase —
    one whose window DOES cover an old click under batch semantics —
    produces NO pair, because the click was evicted before the
    purchase arrived and the purchase itself is below the watermark,
    (c) the identical plan over the same rows in BATCH mode does emit
    that pair (the 3650-day equality-mode default exists precisely
    because of this divergence), and (d) fresh in-horizon pairs still
    emit after the eviction."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime as DT

    from ydb_vector_search_demo_spark.streaming.events import purchase_click_pairs

    d = str(tmp_path / "join_wm")
    os.makedirs(d)
    ts_t = pa.timestamp("us")

    def mk(rows):
        return pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], ts_t),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
        })

    b0 = [  # C1 will be evicted; (P1, C2) is the in-batch control pair
        (1, DT(2024, 1, 1, 10, 0), 1, "click"),
        (2, DT(2024, 1, 1, 14, 0), 2, "click"),
        (100, DT(2024, 1, 1, 14, 30), 2, "purchase"),
    ]
    b1 = [  # advance BOTH sides' watermarks (global wm = min of sides)
        (3, DT(2024, 1, 1, 16, 0), 9, "click"),
        (101, DT(2024, 1, 1, 16, 10), 8, "purchase"),
    ]
    b2 = [  # P_late reaches C1 under batch semantics but is below wm;
        # (P4, C4) proves the join still works post-eviction
        (102, DT(2024, 1, 1, 11, 0), 1, "purchase"),
        (4, DT(2024, 1, 1, 16, 30), 4, "click"),
        (103, DT(2024, 1, 1, 16, 40), 4, "purchase"),
    ]
    now = time.time()
    for i, rows in enumerate([b0, b1, b2]):
        f = f"{d}/b{i}.parquet"
        pq.write_table(mk(rows), f)
        os.utime(f, (now - 100 + 10 * i,) * 2)

    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"

    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(d)
        )

    pairs = purchase_click_pairs(
        src(), src(), window_minutes=60, watermark="10 minutes"
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("join_evict")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.table("join_evict").collect()
    )
    # (d) + (b): the control pairs emit; the late-reachable pair does not
    assert got == [(100, 2), (103, 4)], got

    # (a) eviction observably happened BEFORE the late purchase's batch:
    # batch 1's watermark (13:50, from batch 0's max 14:00/14:30 minus
    # 10 min) passes C1's reach horizon 11:00, so the join operator
    # reports removed state rows in batch <= 1.
    removed_by_batch = {
        p["batchId"]: sum(
            op.get("numRowsRemoved", 0) for op in p["stateOperators"]
        )
        for p in q.recentProgress
        if p["stateOperators"]
    }
    early_removed = sum(v for b, v in removed_by_batch.items() if b <= 1)
    assert early_removed >= 1, removed_by_batch

    # (c) the identical plan in batch mode DOES pair P_late with C1:
    # watermarks are no-ops in batch, so the only difference is the
    # streaming eviction — the divergence this law pins.
    batch_ev = spark.createDataFrame(b0 + b1 + b2, schema)
    batch_pairs = sorted(
        (r["purchase_id"], r["click_id"])
        for r in purchase_click_pairs(
            batch_ev, batch_ev, window_minutes=60, watermark="10 minutes"
        ).collect()
    )
    assert batch_pairs == [(100, 2), (102, 1), (103, 4)], batch_pairs


def test_stream_scd2_ingest_equals_batch_history(spark, tmp_path):
    """Streaming SCD2/CDC maintenance law (streaming.ingest
    stream_scd2_ingest): change batches streamed through the
    foreachBatch log-append + atomic-publish pass yield, at every
    publish, a history EQUAL to the batch scd2_history over everything
    ingested so far — including the mid-stream prefix, and the final
    state after a delete batch."""
    from ydb_vector_search_demo_spark import stores
    from ydb_vector_search_demo_spark.pipeline import rag
    from ydb_vector_search_demo_spark.streaming.ingest import stream_scd2_ingest

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id LONG, text STRING"
    )
    sch = "doc_id LONG, text STRING, _v INT, op STRING"
    b0 = [(1, "one-v1", 1, "upsert"), (4, "four", 1, "upsert")]
    b1 = [(2, None, 2, "delete"), (1, "one-v3", 3, "upsert")]

    src = str(tmp_path / "changes")
    os.makedirs(src)
    root = str(tmp_path / "scd2_store")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()

    def run():
        stream = spark.readStream.schema(sch).parquet(src)
        q = stream_scd2_ingest(stream, base, root, ckpt).start()
        q.awaitTermination()

    def current():
        return sorted(
            tuple(r)
            for r in stores.read_current_store(spark, root)
            .select("doc_id", "text", "valid_from", "valid_to", "is_current")
            .collect()
        )

    def batch_hist(rows):
        ch = spark.createDataFrame(rows, sch)
        ups = ch.filter("op = 'upsert'").select("doc_id", "text", "_v")
        dels = ch.filter("op = 'delete'").select("doc_id", "_v")
        return sorted(
            tuple(r)
            for r in rag.scd2_history(base, ups, dels)
            .select("doc_id", "text", "valid_from", "valid_to", "is_current")
            .collect()
        )

    _write_file(spark, b0, src, "b0.parquet", now - 60, schema=sch)
    run()
    assert current() == batch_hist(b0), "mid-stream publish diverged"

    _write_file(spark, b1, src, "b1.parquet", now - 30, schema=sch)
    run()
    assert current() == batch_hist(b0 + b1), "final publish diverged"
    # the delete closed doc 2's interval and doc 1 carries 3 versions
    final = {(r[0], r[2]): (r[3], r[4]) for r in current()}
    assert final[(2, 0)] == (2, False)
    assert final[(1, 0)] == (1, False)
    assert final[(1, 1)] == (3, False)
    assert final[(1, 3)] == (-1, True)


def test_stream_scd2_incremental_equals_full_rebuild(spark, tmp_path):
    """Churn-merge SCD2 publish law (r12 verdict task #6,
    streaming.ingest stream_scd2_ingest_incremental): at EVERY
    publish the incremental store's served history equals the batch
    scd2_history over everything ingested so far — including
    re-updates of the same key across batches, inserts, deletes and
    an out-of-order version — and compaction preserves it while
    advancing the watermark so folded deltas are ignored."""
    from ydb_vector_search_demo_spark.pipeline import rag
    from ydb_vector_search_demo_spark.streaming.ingest import (
        compact_scd2_history,
        init_scd2_base,
        read_scd2_history_incremental,
        stream_scd2_ingest_incremental,
    )

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three"), (4, "four")],
        "doc_id LONG, text STRING",
    )
    sch = "doc_id LONG, text STRING, _v INT, op STRING"
    b0 = [(1, "one-v1", 1, "upsert"), (5, "five", 1, "upsert")]
    b1 = [(2, None, 2, "delete"), (1, "one-v3", 3, "upsert")]
    b2 = [(1, "one-v2", 2, "upsert"),  # out-of-order version for key 1
          (5, None, 4, "delete"), (3, "three-v5", 5, "upsert")]

    src = str(tmp_path / "changes")
    os.makedirs(src)
    root = str(tmp_path / "scd2_inc")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    init_scd2_base(spark, base, root, n_buckets=4)

    def run():
        stream = spark.readStream.schema(sch).parquet(src)
        q = stream_scd2_ingest_incremental(stream, root, ckpt).start()
        q.awaitTermination()

    def current():
        return sorted(
            tuple(r)
            for r in read_scd2_history_incremental(spark, root)
            .select("doc_id", "text", "valid_from", "valid_to", "is_current")
            .collect()
        )

    def batch_hist(rows):
        ch = spark.createDataFrame(rows, sch)
        ups = ch.filter("op = 'upsert'").select("doc_id", "text", "_v")
        dels = ch.filter("op = 'delete'").select("doc_id", "_v")
        return sorted(
            tuple(r)
            for r in rag.scd2_history(base, ups, dels)
            .select("doc_id", "text", "valid_from", "valid_to", "is_current")
            .collect()
        )

    _write_file(spark, b0, src, "b0.parquet", now - 90, schema=sch)
    run()
    assert current() == batch_hist(b0), "publish 0 diverged"

    _write_file(spark, b1, src, "b1.parquet", now - 60, schema=sch)
    run()
    assert current() == batch_hist(b0 + b1), "publish 1 diverged"

    # compact mid-stream: folded deltas must be ignored afterwards,
    # history unchanged
    compact_scd2_history(spark, root)
    assert current() == batch_hist(b0 + b1), "compaction changed history"

    _write_file(spark, b2, src, "b2.parquet", now - 30, schema=sch)
    run()
    assert current() == batch_hist(b0 + b1 + b2), "publish 2 diverged"

    # spot semantics: key 1 carries base + three versions in order
    final = {(r[0], r[2]): (r[3], r[4]) for r in current()}
    assert final[(1, 0)] == (1, False)
    assert final[(1, 1)] == (2, False)   # out-of-order v2 slotted in
    assert final[(1, 2)] == (3, False)
    assert final[(1, 3)] == (-1, True)
    assert final[(5, 1)] == (4, False)   # inserted then deleted
    assert (2, 0) in final and final[(2, 0)] == (2, False)


def test_stream_scd2_incremental_delta_is_churn_bound(spark, tmp_path):
    """The published delta contains ONLY the churn keys' rows — the
    store-size-independent publish artifact the ×10 probe measures."""
    from ydb_vector_search_demo_spark.streaming.ingest import (
        init_scd2_base,
        stream_scd2_ingest_incremental,
    )

    base = spark.createDataFrame(
        [(i, f"t{i}") for i in range(200)], "doc_id LONG, text STRING"
    )
    sch = "doc_id LONG, text STRING, _v INT, op STRING"
    src = str(tmp_path / "changes")
    os.makedirs(src)
    root = str(tmp_path / "scd2_inc")
    init_scd2_base(spark, base, root, n_buckets=8)
    _write_file(
        spark,
        [(7, "seven-v1", 1, "upsert"), (999, "new", 1, "upsert")],
        src, "b0.parquet", time.time() - 30, schema=sch,
    )
    stream = spark.readStream.schema(sch).parquet(src)
    q = stream_scd2_ingest_incremental(
        stream, root, str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()
    delta = spark.read.parquet(f"{root}/hdelta/batch=0")
    rows = delta.collect()
    assert {r["doc_id"] for r in rows} == {7, 999}  # churn keys only
    assert len(rows) == 3  # 7: base + v1; 999: one open interval


def test_dedup_within_watermark_eviction_law(spark, tmp_path):
    """Bounded-state dedup semantics (dropDuplicatesWithinWatermark,
    the shape streaming_dedup_within_watermark runs): a duplicate key
    arriving while its state is inside the watermark horizon is
    DROPPED; once the watermark passes the key's event time the state
    is evicted, and a later re-occurrence is EMITTED AGAIN — the
    at-least-once trade that makes the state O(horizon), which plain
    dropDuplicates (state-forever) never pays."""
    d = str(tmp_path / "ddwm")
    os.makedirs(d)
    sch = "event_id LONG, ts TIMESTAMP"
    now = time.time()
    b0 = [(1, datetime(2024, 1, 1, 10, 0)), (2, datetime(2024, 1, 1, 10, 5))]
    # in-horizon duplicate of key 1 (state alive: wm = 9:55) -> dropped;
    # 16:00 advances the watermark (to 15:50 for the NEXT batch)
    b1 = [(1, datetime(2024, 1, 1, 10, 7)), (3, datetime(2024, 1, 1, 16, 0))]
    # filler batch: state cleanup runs with the inherited wm 15:50,
    # evicting keys 1 (expiry 10:10) and 2 (10:15) — eviction lags the
    # advance by one batch (the watermark-used rule the late-data tests
    # pin); the wm for the NEXT batch becomes 15:55
    b2 = [(4, datetime(2024, 1, 1, 16, 5))]
    # post-eviction duplicate of key 1 (not late: 15:58 > 15:55) ->
    # re-emitted
    b3 = [(1, datetime(2024, 1, 1, 15, 58))]
    for i, rows in enumerate([b0, b1, b2, b3]):
        _write_file(spark, rows, d, f"b{i}.parquet", now - 100 + 10 * i, schema=sch)
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddwm_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r["event_id"], str(r["ts"])) for r in spark.table("ddwm_pin").collect())
    assert got == [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 15:58:00"),  # re-emitted: state was evicted
        (2, "2024-01-01 10:05:00"),
        (3, "2024-01-01 16:00:00"),
        (4, "2024-01-01 16:05:00"),
    ], got
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
    )
    assert removed >= 2, f"keys 1 and 2 must be evicted, removed={removed}"


def test_running_sessions_merges_across_batches(spark, tmp_path):
    """Custom stateful gap sessionizer (stateful.running_sessions): a
    session SPANNING micro-batches is merged, never split — u1's
    events arrive 2+2 across batches, and the closed session (emitted
    when the post-gap event arrives in batch 2) covers all three
    pre-gap events; u2's session never closes, so nothing is emitted
    for it."""
    from ydb_vector_search_demo_spark.streaming.stateful import running_sessions

    d = str(tmp_path / "sess")
    os.makedirs(d)
    sch = "user_id LONG, ts TIMESTAMP"
    now = time.time()
    b0 = [(1, datetime(2024, 1, 1, 10, 0)), (1, datetime(2024, 1, 1, 10, 10)),
          (2, datetime(2024, 1, 1, 9, 0))]
    b1 = [(1, datetime(2024, 1, 1, 10, 20)), (1, datetime(2024, 1, 1, 12, 0)),
          (2, datetime(2024, 1, 1, 9, 5))]
    for i, rows in enumerate([b0, b1]):
        _write_file(spark, rows, d, f"b{i}.parquet", now - 60 + 30 * i, schema=sch)
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    out = running_sessions(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_pin")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.table("sess_pin").collect())
    us = lambda h, m: int(datetime(2024, 1, 1, h, m).timestamp() * 1_000_000)
    assert got == [(1, us(10, 0), us(10, 20), 3)], got


def test_cusum_monitor_runs_per_trigger_and_matches_batch(spark):
    """The streaming drift monitor (r11 wave 9): the foreachBatch
    CUSUM actually reruns on EVERY trigger (3 micro-batches -> 3
    monitor readouts, grain coverage nondecreasing as state
    accumulates), and the final trigger's statistic equals the batch
    CUSUM over the full table — the streamed-in == batch law."""
    from ydb_vector_search_demo_spark.operators.timeseries import cusum_drift
    from ydb_vector_search_demo_spark.sources.tables import load_table
    from ydb_vector_search_demo_spark.streaming.events import (
        cusum_monitor_stream,
    )
    from tests.conftest import SF_SMOKE

    state = cusum_monitor_stream(spark, SF_SMOKE, event_type="click")
    assert len(state["batches"]) == 3, state["batches"]
    grain_rows = [b[1] for b in state["batches"]]
    assert grain_rows == sorted(grain_rows)
    assert grain_rows[-1] > 0

    hx = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    batch = {
        r["h"]: (r["x"], r["s_up"], r["s_dn"])
        for r in cusum_drift(hx, "h", "x").collect()
    }
    streamed = {
        r["h"]: (r["x"], r["s_up"], r["s_dn"]) for r in state["final"]
    }
    assert streamed == batch


def test_stream_scd2_incremental_replay_is_idempotent(spark, tmp_path):
    """Checkpoint-replay law (r13 review finding): re-running a
    micro-batch AFTER its first attempt already wrote its delta must
    reproduce the identical served history — the prior read excludes
    deltas at or above the replayed batch id, so neither a complete
    nor a PARTIAL/corrupt delta from the crashed first attempt can
    double-apply the batch's events or poison prior state."""
    from ydb_vector_search_demo_spark.pipeline import rag
    from ydb_vector_search_demo_spark.streaming.ingest import (
        apply_scd2_batch,
        init_scd2_base,
        read_scd2_history_incremental,
    )

    base = spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id LONG, text STRING"
    )
    sch = "doc_id LONG, text STRING, _v INT, op STRING"
    root = str(tmp_path / "scd2_replay")
    init_scd2_base(spark, base, root, n_buckets=4)

    b0 = spark.createDataFrame([(1, "one-v1", 1, "upsert")], sch)
    b1 = spark.createDataFrame(
        [(1, "one-v2", 2, "upsert"), (2, None, 1, "delete")], sch
    )
    apply_scd2_batch(b0, 0, root)
    apply_scd2_batch(b1, 1, root)

    def current():
        return sorted(
            tuple(r)
            for r in read_scd2_history_incremental(spark, root)
            .select("doc_id", "text", "valid_from", "valid_to", "is_current")
            .collect()
        )

    want = current()
    # batch-oracle cross-check
    ups = spark.createDataFrame(
        [(1, "one-v1", 1), (1, "one-v2", 2)], "doc_id LONG, text STRING, _v INT"
    )
    dels = spark.createDataFrame([(2, 1)], "doc_id LONG, _v INT")
    assert want == sorted(
        tuple(r)
        for r in rag.scd2_history(base, ups, dels)
        .select("doc_id", "text", "valid_from", "valid_to", "is_current")
        .collect()
    )

    # replay the LAST batch verbatim (crash after write, before the
    # checkpoint commit): history must be unchanged
    apply_scd2_batch(b1, 1, root)
    assert current() == want, "replay double-applied the batch"

    # worse: the first attempt's delta was PARTIAL/corrupt — replace
    # batch=1 with garbage rows, then replay; the re-run must ignore
    # it entirely and rebuild the correct delta
    garbage = spark.createDataFrame(
        [(1, "CORRUPT", 99, 99, True)],
        "doc_id LONG, text STRING, valid_from INT, valid_to INT, "
        "is_current BOOLEAN",
    )
    garbage.write.mode("overwrite").parquet(f"{root}/hdelta/batch=1")
    assert current() != want  # sanity: corruption is visible pre-replay
    apply_scd2_batch(b1, 1, root)
    assert current() == want, "replay read its own corrupt delta"


def test_scd2_compaction_excludes_uncommitted_deltas(spark, tmp_path):
    """Compaction crash-safety law (r13 ADVICE): a delta directory
    written by a micro-batch whose checkpoint commit never landed is
    an ORPHAN — the restart will replay and overwrite it — so
    compact_scd2_history(checkpoint=...) must neither fold it into the
    new base nor advance the watermark past it. (The _scd2_resolve
    replay guard can only exclude open deltas; state baked into the
    compacted base is permanent.)"""
    from ydb_vector_search_demo_spark.pipeline import rag
    from ydb_vector_search_demo_spark.streaming.ingest import (
        _read_scd2_meta,
        _scd2_last_committed,
        apply_scd2_batch,
        compact_scd2_history,
        init_scd2_base,
        read_scd2_history_incremental,
        stream_scd2_ingest_incremental,
    )
    from ydb_vector_search_demo_spark import stores

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id LONG, text STRING"
    )
    sch = "doc_id LONG, text STRING, _v INT, op STRING"
    b0 = [(1, "one-v1", 1, "upsert")]
    b1 = [(2, None, 2, "delete"), (4, "four", 1, "upsert")]
    b2 = [(1, "one-v2", 3, "upsert"), (3, None, 2, "delete")]

    src = str(tmp_path / "changes")
    os.makedirs(src)
    root = str(tmp_path / "scd2_crash")
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    init_scd2_base(spark, base, root, n_buckets=4)

    def run():
        stream = spark.readStream.schema(sch).parquet(src)
        q = stream_scd2_ingest_incremental(stream, root, ckpt).start()
        q.awaitTermination()

    def current():
        return sorted(
            tuple(r)
            for r in read_scd2_history_incremental(spark, root)
            .select("doc_id", "text", "valid_from", "valid_to", "is_current")
            .collect()
        )

    def batch_hist(rows):
        ch = spark.createDataFrame(rows, sch)
        ups = ch.filter("op = 'upsert'").select("doc_id", "text", "_v")
        dels = ch.filter("op = 'delete'").select("doc_id", "_v")
        return sorted(
            tuple(r)
            for r in rag.scd2_history(base, ups, dels)
            .select("doc_id", "text", "valid_from", "valid_to", "is_current")
            .collect()
        )

    _write_file(spark, b0, src, "b0.parquet", now - 90, schema=sch)
    run()
    _write_file(spark, b1, src, "b1.parquet", now - 60, schema=sch)
    run()
    assert _scd2_last_committed(spark, ckpt) == 1

    # crash simulation: batch 2's first attempt wrote a PARTIAL delta
    # (one of its two events) and died before the checkpoint commit
    partial = spark.createDataFrame(
        [(1, "one-v2", 3, -1, True)],
        "doc_id LONG, text STRING, valid_from INT, valid_to INT, "
        "is_current BOOLEAN",
    )
    partial.write.mode("overwrite").parquet(f"{root}/hdelta/batch=2")

    compact_scd2_history(spark, root, checkpoint=ckpt)
    meta = _read_scd2_meta(
        spark, stores.current_store_path(spark, f"{root}/hbase")
    )
    assert meta["through"] == 1, "watermark advanced past the last commit"
    # the partial delta is still OPEN (above the watermark) — visible
    # to resolve until the replay overwrites it — but NOT baked into
    # the compacted base: the restart replays batch 2 and the served
    # history converges on the batch oracle with the event applied
    # exactly once
    apply_scd2_batch(spark.createDataFrame(b2, sch), 2, root)
    assert current() == batch_hist(b0 + b1 + b2), (
        "replayed batch double-applied through the compacted base"
    )

    # a second compaction AFTER the replay committed may fold it
    _write_file(spark, b2, src, "b2.parquet", now - 30, schema=sch)
    run()  # replays batch 2 through the checkpoint, committing it
    compact_scd2_history(spark, root, checkpoint=ckpt)
    meta = _read_scd2_meta(
        spark, stores.current_store_path(spark, f"{root}/hbase")
    )
    assert meta["through"] == 2
    assert current() == batch_hist(b0 + b1 + b2)
