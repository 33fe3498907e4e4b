"""Streaming vector-store ingest: new embeddings arrive as files, get
routed to their index cell (and optionally encoded into companion
formats) map-side, and append to the partitioned store continuously —
the streaming twin of the batch append (``ann.write_store`` with
``mode="append"``, ``ann.ivf_append``) and the store-ingest half of the
reference's (disabled) index path [API-inferred, the reference's
app.py:37].

Everything between source and sink is a stateless projection (the
router's assignment and the codecs' column sets are pure Column
expressions), so this runs as a stateless streaming query: no
watermark, no state store, exactly-once file-sink semantics via the
checkpoint, and each micro-batch touches only the leaf directories
its rows route to. Index maintenance stays batch: the codebooks are
plan literals fixed at query start, and when drift accumulates
(`ann.tree_drift_report`) a batch `rebalance_tree` rewrites the store
— the classic streaming-ingest / batch-reorg split.
The stream shares the batch write side (operators.ann, "Write side"):
one row projection (``ann.store_rows``) and one ``writeStream`` body
(:func:`_stream_cells`), behind one entry point, :func:`stream_ingest`."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ydb_vector_search_demo_spark import stores
from ydb_vector_search_demo_spark.operators.ann import store_rows
from ydb_vector_search_demo_spark.session import _get_or_build


def read_embeddings_stream(
    spark: SparkSession, source_dir: str, dim_hint_df: DataFrame | None = None,
    schema=None,
) -> DataFrame:
    """File-source stream of (vec_id, embedding) parquet drops. The
    schema comes from ``schema`` or a batch ``dim_hint_df`` (file
    streams need an explicit schema — one batch-read of an existing
    file, never inference over the stream)."""
    if schema is None:
        schema = dim_hint_df.select("vec_id", "embedding").schema
    return spark.readStream.schema(schema).parquet(source_dir)


def _stream_cells(
    rows: DataFrame, router, store_path: str, checkpoint_dir: str,
    available_now: bool,
):
    """The one streaming cell writer: store rows appended by the file
    sink partitioned by the router's cell columns (``router.fields``)
    — the streaming twin of ``ann._write_cells``. Returns the started
    StreamingQuery."""
    writer = (
        rows.writeStream.format("parquet")
        .option("path", store_path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*router.fields)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest(
    stream: DataFrame,
    router,
    store_path: str,
    checkpoint_dir: str,
    codecs=(None,),
    available_now: bool = True,
):
    """Continuous vector-store ingest: each micro-batch routed map-side
    by ``router`` (``ann._IvfRouter`` or ``ann._TreeRouter``) and
    encoded into the store's formats — ``codecs``, the float vector
    (``None``) plus any companion codecs, e.g. ``(None,
    quant.Int8Codec(), pq.PqCodec(books))`` — by the batch write's one
    row projection (``ann.store_rows``), then appended to the
    cell-partitioned store. Codebooks, centroids and fitted bases
    (PCA/Hadamard ``rotation.PcaCodec``, an OPQ ``PqCodec`` rotation)
    freeze into plan literals at query start, so the ingest stays
    refit-free and a streamed store holds the bytes a batch write
    would; every precision of the ladder is served from it directly
    (``ann.VectorStore``). Two formats writing one column (e.g. an MRL
    and a rotated prefix) is a ``ValueError``. Returns the started
    StreamingQuery (caller awaits)."""
    return _stream_cells(
        store_rows(stream, router, codecs), router, store_path,
        checkpoint_dir, available_now,
    )


def stream_bm25_ingest(
    docs_stream: DataFrame,
    root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords=None,
    stem: bool = False,
):
    """Streaming LEXICAL ingest: each micro-batch of new documents is
    appended to the published BM25 inverted index via
    ``retrieval.append_bm25_index`` inside ``foreachBatch`` — tokenize
    the batch, merge df-free postings cores, recompute df/stats from
    postings (never re-tokenizing the corpus), publish a new atomic
    version. Probers resolve the current version between batches and
    always see a complete index equal to a full rebuild over
    everything ingested so far (the batch append's equality contract).

    Unlike the vector ingest above this is NOT a file-sink append —
    publishing a new version per micro-batch is a metadata swap, the
    streaming analogue of the continuous-aggregate refresh
    (events_rollup_serve). Exactly-once comes from the foreachBatch
    checkpoint: a replayed batch re-publishes an identical version.
    Empty micro-batches are skipped (no empty version churn)."""
    from ydb_vector_search_demo_spark.operators import retrieval as R

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        if stores.current_store_path(spark, root) is None:
            idx = R.build_bm25_index(
                batch_df, text_col=text_col, id_col=id_col,
                stopwords=stopwords, stem=stem,
            )
            try:
                R.publish_bm25_index(spark, root, idx)
            finally:
                idx.postings.unpersist()
        else:
            R.append_bm25_index(
                spark, root, batch_df, text_col=text_col, id_col=id_col,
                stopwords=stopwords, stem=stem,
            )

    return (
        docs_stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def stream_scd2_ingest(
    changes_stream: DataFrame,
    base: DataFrame,
    root: str,
    checkpoint: str,
    key_col: str = "doc_id",
    payload_col: str = "text",
    available_now: bool = True,
):
    """Streaming SCD2/CDC maintenance of the log-structured store —
    the lifecycle × streaming cell (the stream_bm25_ingest pattern
    applied to warehouse history): change rows
    ``(key, payload, _v, op)`` with ``op`` in {'upsert', 'delete'}
    arrive as a stream; each micro-batch (a) appends its slices to the
    upsert/tombstone logs under ``root/log/`` at a DETERMINISTIC
    per-batch path (``batch=<id>`` — a checkpoint-replayed batch
    overwrites itself with identical bytes, so exactly-once comes for
    free), and (b) rebuilds the SCD2 history view from ``base`` + all
    logs so far (:func:`pipeline.rag.scd2_history` — one union, one
    lead window keyed on the key) into a fresh versioned directory
    published via :func:`stores.publish_store`'s atomic manifest swap.
    Readers between batches always see a COMPLETE history equal to the
    batch ``scd2_history`` over everything ingested so far (the
    equality law in tests/test_streaming_semantics.py), and because
    the history window orders by ``_v``, out-of-order batch arrival
    converges to the same final history.

    Scale shape: the logs are churn-bound (never the store); the one
    full-``base`` pass per publish is the rebuild's cost — at 100 TB
    the publish cadence batches micro-batches (trigger interval), the
    same continuous-aggregate refresh economics as
    events_rollup_serve. Returns the writer (caller starts/awaits)."""
    from ydb_vector_search_demo_spark.pipeline import rag

    ups_schema = base.select(
        F.col(key_col), F.col(payload_col)
    ).withColumn("_v", F.lit(1).cast("int")).schema
    del_schema = base.select(F.col(key_col)).withColumn(
        "_v", F.lit(1).cast("int")
    ).schema

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ups = batch_df.filter(F.col("op") == "upsert").select(
            key_col, payload_col, F.col("_v").cast("int").alias("_v")
        )
        dels = batch_df.filter(F.col("op") == "delete").select(
            key_col, F.col("_v").cast("int").alias("_v")
        )
        ups.write.mode("overwrite").parquet(
            f"{root}/log/upserts/batch={batch_id}"
        )
        dels.write.mode("overwrite").parquet(
            f"{root}/log/deletes/batch={batch_id}"
        )
        # explicit schemas: a batch with no deletes writes a part-less
        # directory, which schema inference cannot read back
        ups_all = spark.read.schema(ups_schema).parquet(
            f"{root}/log/upserts"
        ).select(key_col, payload_col, "_v")
        dels_all = spark.read.schema(del_schema).parquet(
            f"{root}/log/deletes"
        ).select(key_col, "_v")
        hist = rag.scd2_history(
            base, ups_all, dels_all, key_col=key_col, payload_col=payload_col
        )
        out = f"{root}/history-b{batch_id}"
        hist.write.mode("overwrite").parquet(out)
        stores.publish_store(spark, root, out)

    writer = changes_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer


# ----------------------------------------------- incremental SCD2 publish
# The churn-merge refinement of stream_scd2_ingest (r12 verdict task
# #6): instead of rebuilding the WHOLE history from base + logs at
# every publish (one full-`base` window pass + a store-sized write),
# each micro-batch recomputes history for ITS CHURN KEYS ONLY and
# publishes a churn-bound DELTA next to a rarely-rebuilt, key-bucketed
# COMPACTED history — the events_rollup_serve economics applied to
# warehouse history (materialized closed part + live tail, resolved at
# read). Publish cost tracks churn, not store size (×10-probed).


def _scd2_kb(key_col: str, n_buckets: int):
    """Pinned-md5 key bucket — the hbase partition column. Pruning the
    compacted history to the churn keys' buckets is what keeps the
    per-batch prior-state read sub-store-sized."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("scd2kb:"), F.col(key_col).cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(int(n_buckets))
    ).cast("int")


def _scd2_meta_path(hbase_dir: str) -> str:
    return f"{hbase_dir}/_scd2_meta.json"


# Per-VERSION-DIRECTORY metadata caches (process-scoped): a published
# store version directory is write-once — meta is written exactly once
# before the atomic manifest publish and the parquet layout never
# changes after it — so its meta dict and inferred schema are immutable
# per path (fixture roots are mkdtemp-unique, compaction publishes NEW
# version dirs). Caching them turns the per-micro-batch resolve's
# metadata cost (a JVM meta-file read + a parquet schema inference per
# call) into one read per version. This caches METADATA keyed on the
# store's own immutable layout — never query results. The schema cache
# is filled through the locked session get-or-build
# (``session._get_or_build``), so concurrent resolves infer once.
_SCD2_META_CACHE: dict = {}
_SCD2_SCHEMA_CACHE: dict = {}


def _scd2_store_reader(spark: SparkSession, hdir: str):
    """Partitioned store read with the version dir's cached schema —
    skips per-call footer-based schema inference."""
    schema = _get_or_build(
        _SCD2_SCHEMA_CACHE, hdir, lambda: spark.read.parquet(hdir).schema
    )
    return spark.read.schema(schema).parquet(hdir)


def _read_scd2_meta(spark: SparkSession, hbase_dir: str) -> dict:
    cached = _SCD2_META_CACHE.get(hbase_dir)
    if cached is not None:
        return dict(cached)
    jvm, path, fs = stores._fs(spark, _scd2_meta_path(hbase_dir))
    meta = json.loads(stores._read_file(jvm, fs, path))
    _SCD2_META_CACHE[hbase_dir] = dict(meta)
    return meta


def _write_scd2_meta(spark: SparkSession, hbase_dir: str, meta: dict) -> None:
    jvm, path, fs = stores._fs(spark, _scd2_meta_path(hbase_dir))
    if fs.exists(path):
        fs.delete(path, False)
    stores._write_file(jvm, fs, path, json.dumps(meta).encode("utf-8"))
    # keep the write-once cache coherent even if a caller re-writes
    # meta before publishing (the cache key is the version dir path)
    _SCD2_META_CACHE[hbase_dir] = dict(meta)


def _scd2_list_delta_ids(spark: SparkSession, ddir: str) -> list:
    """Batch ids of the existing delta directories (Hadoop FS listing,
    so any scheme the store itself supports works — never a
    local-only os.listdir)."""
    _, path, fs = stores._fs(spark, ddir)
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.startswith("batch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def init_scd2_base(
    spark: SparkSession,
    base: DataFrame,
    root: str,
    key_col: str = "doc_id",
    payload_col: str = "text",
    n_buckets: int = 16,
) -> None:
    """One-time seed of the incremental SCD2 store: write ``base``'s
    initial history (every row an open interval at version 0),
    PARTITIONED by the pinned-md5 key bucket ``kb``, with a meta file
    (compaction watermark -1 + the bucket count) INSIDE the version
    directory — atomic because the directory only becomes visible at
    the manifest publish. The one O(store) pass, paid once (the
    bucketed-join layout-write convention); every subsequent publish
    is churn-bound."""
    from ydb_vector_search_demo_spark.pipeline import rag

    hroot = f"{root}/hbase"
    hist = stores.store_history(spark, hroot)
    vdir = f"{hroot}/v{(hist[-1][0] + 1) if hist else 1}"
    empty_u = spark.createDataFrame(
        [], base.select(key_col, payload_col).withColumn(
            "_v", F.lit(1).cast("int")
        ).schema
    )
    empty_d = spark.createDataFrame(
        [], base.select(key_col).withColumn("_v", F.lit(1).cast("int")).schema
    )
    h = rag.scd2_history(
        base, empty_u, empty_d, key_col=key_col, payload_col=payload_col
    ).withColumn("kb", _scd2_kb(key_col, n_buckets))
    # cluster by the partition column before the partitionBy write
    # (guide §6 small-files): without it every shuffle-partition task
    # writes into every kb directory — tasks × n_buckets files (512 at
    # the 32-partition default), which every subsequent resolve/read
    # re-lists and re-opens; clustered, the seed is one file per
    # bucket at any scale.
    h.repartition("kb").write.mode("overwrite").partitionBy("kb").parquet(
        vdir
    )
    _write_scd2_meta(
        spark, vdir, {"through": -1, "n_buckets": int(n_buckets)}
    )
    stores.publish_store(spark, hroot, vdir)


def _scd2_resolve(
    spark: SparkSession,
    root: str,
    key_col: str,
    payload_col: str,
    keys: DataFrame | None = None,
    before_batch: int | None = None,
    hdir: str | None = None,
    meta: dict | None = None,
    buckets: list | None = None,
) -> DataFrame:
    """Newest-source-wins resolution of compacted history + deltas:
    per key, the delta with the highest batch id supersedes the
    compacted row set; deltas at or below the compaction watermark are
    ignored (already folded in). ``keys`` (the churn keys, with their
    ``kb`` buckets — the per-batch publish path) restricts BOTH the
    compacted read (partition-pruned to the churn buckets) AND every
    relation BEFORE the winner aggregation (broadcast semi-joins), so
    the resolution shuffle is churn-bound, never store-bound; readers
    pass None for the full history. ``before_batch`` excludes deltas
    at or above the given batch id — the CHECKPOINT-REPLAY guard: a
    re-run micro-batch must not read the delta its crashed first
    attempt may have written (complete, it applies the batch's events
    twice; partial, it poisons prior state outright).

    ``hdir``/``meta``/``buckets`` let the per-batch publish path pass
    in the store pointer, the (immutable-per-version) meta and the
    churn buckets it already resolved, so one micro-batch pays the
    manifest/meta metadata reads and the churn-key job exactly once
    (guide §5 driver latency); readers omit them and resolve here."""

    hroot = f"{root}/hbase"
    if hdir is None:
        hdir = stores.current_store_path(spark, hroot)
    if hdir is None:
        raise ValueError(f"init_scd2_base has not run for {root!r}")
    if meta is None:
        meta = _read_scd2_meta(spark, hdir)
    hb = _scd2_store_reader(spark, hdir)
    if keys is not None:
        if buckets is None:
            buckets = [
                int(r["kb"]) for r in keys.select("kb").distinct().collect()
            ]
        hb = hb.filter(F.col("kb").isin(buckets)).join(
            F.broadcast(keys.select(key_col)), key_col
        )
    data_schema = hb.select(
        key_col, payload_col, "valid_from", "valid_to", "is_current"
    ).schema
    hb = hb.select(*[f.name for f in data_schema.fields]).withColumn(
        "_batch", F.lit(-1).cast("long")
    )

    ddir = f"{root}/hdelta"
    deltas = None
    if _scd2_list_delta_ids(spark, ddir):
        # explicit data schema (a part-less replayed dir is unreadable
        # by inference — the log-read convention); the batch id comes
        # from the batch=<id> partition directory
        deltas = (
            spark.read.schema(data_schema)
            .parquet(ddir)
            .select(
                *[f.name for f in data_schema.fields],
                F.col("batch").cast("long").alias("_batch"),
            )
            .filter(F.col("_batch") > int(meta["through"]))
        )
        if before_batch is not None:
            deltas = deltas.filter(F.col("_batch") < int(before_batch))
        if keys is not None:
            deltas = deltas.join(
                F.broadcast(keys.select(key_col)), key_col
            )
    data_cols = [key_col, payload_col, "valid_from", "valid_to", "is_current"]
    if deltas is None:
        # no open deltas (or none visible below the replay guard):
        # every row carries _batch = -1, the winner window is the
        # identity — skip its shuffle outright (batch 0 of every
        # replay, and any read right after a compaction)
        return hb.select(*data_cols)
    # newest-source-wins as ONE keyed window, not groupBy(max) + join
    # back: the join form references the union twice, so the store +
    # delta union was SCANNED twice per resolution (12 parquet scans in
    # the served-read plan at 16 buckets; guide §2.4 — remove shuffles/
    # passes outright). The window reads it once and keeps the same
    # rows: per key, every row whose _batch equals the key's max.
    return (
        hb.unionByName(deltas)
        .selectExpr(
            "*",
            f"max(_batch) over (partition by `{key_col}`) as _w",
        )
        .filter("_batch = _w")
        .select(*data_cols)
    )


def read_scd2_history_incremental(
    spark: SparkSession,
    root: str,
    key_col: str = "doc_id",
    payload_col: str = "text",
) -> DataFrame:
    """The COMPLETE served history of the incremental store — equal,
    at every publish, to the batch ``scd2_history`` over everything
    ingested so far (the equality law in
    tests/test_streaming_semantics.py). Read cost is O(store + open
    deltas) with one key-grain resolution shuffle — the same order as
    reading any full history; it is the PUBLISH that became
    churn-bound."""
    return _scd2_resolve(spark, root, key_col, payload_col, keys=None)


def _scd2_events_from_history(
    hist: DataFrame, key_col: str, payload_col: str
) -> DataFrame:
    """Invert a history slice back into its event log: every row is an
    upsert at ``valid_from``; a delete happened at ``valid_to``
    wherever an interval closed and NO successor interval opens at
    that version.

    Shape: the successor test rides ONE keyed window (the key's open
    versions as an in-row array) + a conditional explode — not the
    earlier left-anti self-join, which referenced ``hist`` three
    times, so the whole upstream resolution (store + delta scans and
    their window) was evaluated three times inside every delta-write
    plan (guide §1.2/§2.4). ``hist`` is already key-partitioned by the
    resolve window, so the window here adds no Exchange; the event
    SET is identical (at-most-one-change-per-(key, version) contract:
    per closed row, exactly one membership decision). Spelled as
    JVM-parsed expression strings: this runs per micro-batch, and
    building the same tree through the Python Column API is dozens of
    py4j round-trips per batch (guide §5 driver latency)."""
    k, p = f"`{key_col}`", f"`{payload_col}`"
    up_ev = (
        f"named_struct('_p', {p}, '_v', cast(valid_from as int), "
        "'_is_upsert', true)"
    )
    del_ev = (
        "named_struct('_p', cast(null as string), "
        "'_v', cast(valid_to as int), '_is_upsert', false)"
    )
    return (
        hist.selectExpr(
            k,
            p,
            "valid_from",
            "valid_to",
            f"collect_list(cast(valid_from as int)) over "
            f"(partition by {k}) as _opens",
        )
        .selectExpr(
            k,
            "explode(case when valid_to != -1 and not array_contains("
            f"_opens, cast(valid_to as int)) then array({up_ev}, {del_ev}) "
            f"else array({up_ev}) end) as _e",
        )
        .selectExpr(
            k, "_e._p as _p", "_e._v as _v", "_e._is_upsert as _is_upsert"
        )
    )


def apply_scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    key_col: str = "doc_id",
    payload_col: str = "text",
) -> None:
    """One incremental-SCD2 micro-batch (the foreachBatch body of
    :func:`stream_scd2_ingest_incremental`, module-level so the
    replay-idempotence law can invoke it directly): resolve prior
    state for the batch's churn keys (bucket-pruned, churn-bound,
    EXCLUDING deltas at or above this batch id — the checkpoint-replay
    guard), invert to events, re-run the SCD2 window for those keys,
    overwrite ``root/hdelta/batch=<id>``.

    Driver-job budget (guide §5): the churn keys and their buckets
    come from ONE collect — they are micro-batch-bounded and already
    had to fit in memory (the resolve broadcasts them), so collecting
    is the same envelope as the broadcast build it replaces; the
    collected rows re-enter as a local relation, and the store
    pointer + meta are read once and passed through the resolve
    instead of being re-read per helper. One micro-batch is therefore
    one keys job + one delta-write job."""
    from ydb_vector_search_demo_spark.pipeline import rag

    spark = batch_df.sparkSession
    hdir = stores.current_store_path(spark, f"{root}/hbase")
    meta = _read_scd2_meta(spark, hdir)
    nb = int(meta["n_buckets"])
    kdf = batch_df.select(F.col(key_col)).distinct().withColumn(
        "kb", _scd2_kb(key_col, nb)
    )
    key_rows = kdf.collect()
    keys = spark.createDataFrame(key_rows, kdf.schema)
    buckets = sorted({int(r["kb"]) for r in key_rows})
    prior = _scd2_resolve(
        spark, root, key_col, payload_col,
        keys=keys, before_batch=int(batch_id),
        hdir=hdir, meta=meta, buckets=buckets,
    )
    ev_prior = _scd2_events_from_history(prior, key_col, payload_col)
    k, p = f"`{key_col}`", f"`{payload_col}`"
    ups = batch_df.filter("op = 'upsert'").selectExpr(
        k, f"{p} as _p", "cast(_v as int) as _v", "true as _is_upsert"
    )
    dels = batch_df.filter("op = 'delete'").selectExpr(
        k,
        "cast(null as string) as _p",
        "cast(_v as int) as _v",
        "false as _is_upsert",
    )
    new_hist = rag.scd2_from_events(
        ev_prior.unionByName(ups).unionByName(dels),
        key_col=key_col,
        payload_col=payload_col,
    )
    new_hist.write.mode("overwrite").parquet(
        f"{root}/hdelta/batch={batch_id}"
    )


def stream_scd2_ingest_incremental(
    changes_stream: DataFrame,
    root: str,
    checkpoint: str,
    key_col: str = "doc_id",
    payload_col: str = "text",
    available_now: bool = True,
):
    """CHURN-MERGE streaming SCD2 maintenance (the incremental
    refinement of :func:`stream_scd2_ingest`; requires
    :func:`init_scd2_base` to have seeded ``root``): per micro-batch,
    (a) restrict the served history to the batch's churn keys — the
    compacted part read PARTITION-PRUNED to those keys' md5 buckets,
    the open deltas (churn-bound) filtered by a broadcast semi-join;
    (b) invert that slice back into events, union the batch's events,
    and re-run the SCD2 window for the churn keys only; (c) write the
    result as a delta at the DETERMINISTIC path
    ``root/hdelta/batch=<id>`` (a checkpoint-replayed batch
    recomputes an IDENTICAL delta and overwrites itself: its prior
    read excludes deltas at or above its own batch id, so whatever
    the crashed first attempt wrote — complete or partial — is
    invisible to the re-run, and exactly-once comes for free). Nothing
    store-sized is read or written after the one-time seed: publish
    cost tracks CHURN (×10 probe in BASELINE), while
    :func:`read_scd2_history_incremental` serves the complete history
    with one resolution shuffle. Out-of-order versions within a key
    converge exactly as in the full rebuild (the window orders by
    ``_v``). Compact with :func:`compact_scd2_history` when the delta
    tail grows (the store_compaction economics)."""
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_scd2_batch(batch_df, batch_id, root, key_col, payload_col)

    writer = changes_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer


def _scd2_last_committed(spark: SparkSession, checkpoint: str) -> int:
    """Highest batch id whose checkpoint COMMIT landed: Hadoop FS
    listing of ``<checkpoint>/commits`` (Structured Streaming's
    commit log — one plain-numeric file per completed micro-batch);
    -1 when nothing has committed yet. A delta directory with an id
    ABOVE this is an orphan from a crashed micro-batch: written, but
    never acknowledged by the checkpoint, so a restart WILL replay
    and overwrite it."""
    sc = spark.sparkContext
    jvm = sc._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        checkpoint.rstrip("/") + "/commits"
    )
    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return -1
    out = -1
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if name.isdigit():
            out = max(out, int(name))
    return out


def compact_scd2_history(
    spark: SparkSession,
    root: str,
    key_col: str = "doc_id",
    payload_col: str = "text",
    checkpoint: str | None = None,
) -> None:
    """Fold the open deltas into a new compacted, kb-partitioned
    history version (the rare O(store) pass — store_compaction
    economics) and advance the watermark so folded deltas are ignored
    by every subsequent read; the atomic manifest publish means a
    concurrent reader sees old-complete or new-complete, never a
    mix. Folded delta directories stay on disk for rollback (the
    retained older manifests still resolve against them) — vacuum
    them with the store's own retention policy when the old versions
    are vacuumed.

    ``checkpoint`` (the ingest query's checkpointLocation) bounds the
    fold at the stream's LAST COMMITTED batch id (r13 ADVICE): a delta
    written by a crashed micro-batch whose commit never landed is
    excluded from the fold and from the watermark, because the replay
    guard in :func:`_scd2_resolve` can only exclude open DELTAS — once
    a partial or to-be-replayed delta is baked into the compacted
    base, the batch's eventual re-run double-applies its events (or
    the partial write is permanent). Pass it whenever the ingest query
    may not have terminated cleanly; without it the caller MUST ensure
    the stream is stopped with all written deltas committed."""

    hroot = f"{root}/hbase"
    hdir = stores.current_store_path(spark, hroot)
    meta = _read_scd2_meta(spark, hdir)
    nb = int(meta["n_buckets"])
    ddir = f"{root}/hdelta"
    delta_ids = _scd2_list_delta_ids(spark, ddir)
    fold_before = None
    if checkpoint is not None:
        committed = _scd2_last_committed(spark, checkpoint)
        delta_ids = [i for i in delta_ids if i <= committed]
        fold_before = committed + 1
    through = max([int(meta["through"]), *delta_ids])
    full = _scd2_resolve(
        spark, root, key_col, payload_col,
        keys=None, before_batch=fold_before,
    ).withColumn("kb", _scd2_kb(key_col, nb))
    hist = stores.store_history(spark, hroot)
    vdir = f"{hroot}/v{hist[-1][0] + 1}"
    # cluster by kb before the partitionBy write (the init_scd2_base
    # note: unclustered, tasks × n_buckets small files)
    full.repartition("kb").write.mode("overwrite").partitionBy(
        "kb"
    ).parquet(vdir)
    _write_scd2_meta(
        spark, vdir, {"through": through, "n_buckets": nb}
    )
    stores.publish_store(spark, hroot, vdir)
