"""Event-stream operators over the ``events`` table.

The reference is pure request/response — no streams exist in it
(SURVEY.md §2.5 'Streaming: NONE'); these are the driver-extension /
north-star operators. Every transformation is written once against a
DataFrame and works identically in batch (``spark.read``) and
Structured Streaming (``spark.readStream``) — the streaming entry
points below just re-bind the source and add watermarking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

def _events_schema(spark: SparkSession, path: str) -> StructType:
    """Schema for the streaming reader, taken from the parquet footer of
    the actual file (one driver-side metadata read, no data scan).
    events.parquet has shipped with ts as TIMESTAMP(NANOS) — surfaced
    as int64 under ``nanosAsLong`` — and as plain TIMESTAMP(MICROS);
    hard-coding either layout breaks the other, so ask the file."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema

SESSION_GAP_MINUTES = 30

# --------------------------------------------------- state sizing
# Structured Streaming pins its STATE partitioning to
# spark.sql.shuffle.partitions at the first batch and AQE never
# re-coalesces it (state-store layout must stay fixed), so every
# stateful trigger pays one state-store commit + task per partition
# PER TRIGGER regardless of data volume. A session-wide constant is
# therefore wrong in both directions: tuned to the local core count
# it wastes ~2x wall-clock on replay-bounded state (measured r14:
# cusum replay 3.75 s at 32 partitions vs 1.69 s at 4, identical
# results), tuned small it would throttle a 100 TB stream. The
# guide's prescription (spark_optimization_guide.md §2.2/§2.5) is to
# DERIVE the partition count from input scale: bytes / target,
# floored for parallelism, capped at the session's configured
# default (which a real cluster sizes to 2-3x total cores — the cap
# keeps the 100 TB posture identical to today's).

STREAM_TARGET_PARTITION_BYTES = 32 * 1024 * 1024
STREAM_PARTITION_FLOOR = 4


def scaled_stream_partitions(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = ("events",),
    target_bytes: int = STREAM_TARGET_PARTITION_BYTES,
    floor: int = STREAM_PARTITION_FLOOR,
) -> int:
    """Shuffle/state partition count for a streaming replay over the
    named source tables, derived from their on-disk bytes: one
    partition per ``target_bytes`` of source, at least ``floor``
    (parallelism floor), at most the session's configured default
    (the scale cap — a cluster-sized default is never lowered for a
    genuinely large source).

    Sources are sized through the Hadoop FileSystem API
    (sources.tables.fs_file_bytes), never ``os.walk``: a local walk
    silently totals 0 bytes for any non-local scheme (S3A/HDFS), which
    would collapse a genuinely large remote source to the floor — the
    exact failure the cap exists to prevent (r14 ADVICE). An
    unreadable or zero-byte total falls back to the session default:
    "don't know" must never mean "tiny"."""
    import math
    import os

    from ydb_vector_search_demo_spark.sources.tables import fs_file_bytes

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total = 0
    for t in tables:
        path = f"{sf_dir}/{t}.parquet"
        if "://" not in path:
            path = os.path.abspath(path)
        try:
            total += sum(b for _p, b in fs_file_bytes(spark, path))
        except Exception:
            return cap
    if total <= 0:
        return cap
    derived = max(int(floor), math.ceil(total / float(target_bytes)))
    return min(cap, derived)


class stream_shuffle_scope:
    """Bound a streaming query's state partitioning to the
    source-derived count (:func:`scaled_stream_partitions`) for the
    duration of a ``with`` block, restoring the session default on
    exit. Wrap exactly the ``writeStream ... start(); awaitTermination``
    region: the conf is read at stream-query planning time, so batch
    work before/after the block keeps the session default (and AQE).

    Concurrency contract (r14 ADVICE): ``spark.sql.shuffle.partitions``
    is session-global, so any batch query PLANNED concurrently from
    another thread inside the block silently inherits the lowered
    count — use only where the scoped stream is the session's sole
    in-flight work (the catalog rows replay their streams serially).
    LIFO ``with`` nesting restores correctly (each scope re-reads the
    current value at entry); interleaved enter/exit across scopes, or
    concurrent scopes on one session, are not supported."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        tables: tuple[str, ...] = ("events",),
        target_bytes: int = STREAM_TARGET_PARTITION_BYTES,
        floor: int = STREAM_PARTITION_FLOOR,
    ) -> None:
        self._spark = spark
        self._n = scaled_stream_partitions(
            spark, sf_dir, tables=tables, target_bytes=target_bytes,
            floor=floor,
        )

    def __enter__(self) -> int:
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
        return self._n

    def __exit__(self, *exc) -> None:
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed aggregation: count + value sum per
    (window, event_type). Uses ``F.window`` so the identical expression
    runs under Structured Streaming with a watermark. The value sum is
    aggregated in exact integer cents (values carry 2 decimals) so
    results are reproducible regardless of partial-agg order."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("value_cents") / 100.0).alias("value_sum"),
        )
    )


def json_props_stats(events: DataFrame) -> DataFrame:
    """JSON extraction surface (SURVEY.md §2.5 'Map/JSON functions'):
    pull ``$.k`` out of the props JSON and aggregate it per event type."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .withColumn("k_avg", F.round(F.col("k_sum") / F.col("n"), 6))
    )


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Gap-based sessionization (batch form): a new session starts when a
    user's inter-event gap exceeds ``gap_minutes``. Classic lag + running
    sum of session-start markers; the shuffle is one hash partitioning by
    user_id, and both windows reuse that partitioning (single Exchange)."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer microseconds (unix_micros ≡ DuckDB epoch_us) so gap compares
    # are exact — no float epoch math
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(by_user)
    new_session = F.when(
        gap_us.isNull() | (gap_us > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn("session_seq", F.sum(new_session).over(
        by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ))


def session_stats(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Per-user session counts + per-session event counts, aggregated to
    one row per user (deterministic, oracle-friendly)."""
    s = sessionize(events, gap_minutes)
    return (
        s.groupBy("user_id")
        .agg(
            F.max("session_seq").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "events_per_session", F.round(F.col("n_events") / F.col("n_sessions"), 6)
        )
    )


# ----------------------------------------------------------- streaming


def _ensure_symlink(src: str, link: str) -> None:
    """Create (or repoint) ``link`` → ``src``. ``os.path.exists`` is the
    wrong guard here: a DANGLING symlink (testdata regenerated/removed)
    makes exists() False while symlink() still raises FileExistsError.
    Check the link itself (lexists/islink), retarget when it points
    elsewhere, and absorb the create/create race."""
    import os

    if os.path.islink(link):
        if os.readlink(link) == src:
            return
        os.unlink(link)
    elif os.path.exists(link):
        return  # a real file is already in place — leave it alone
    try:
        os.symlink(src, link)
    except FileExistsError:
        pass  # concurrent creator won the race


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming source over the events parquet — in
    production this is Kafka/Kinesis; the transformation stack is
    identical either way. The file source wants a *directory*, and the
    testdata is a single read-only file, so it is symlinked into a temp
    dir; the ts column normalizes to TimestampType exactly like the
    batch reader (sources.tables.normalize_event_ts)."""
    import os
    import tempfile

    from ydb_vector_search_demo_spark.sources.tables import normalize_event_ts

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isdir(src):
        # already a directory of part-files (the production layout):
        # stream it directly — the symlink trick would nest a
        # DIRECTORY inside the stream dir, which the file source does
        # not recurse into, silently yielding ZERO rows (caught by the
        # r10 scale probe).
        stream_dir = src
    else:
        stream_dir = os.path.join(
            tempfile.gettempdir(), "spark_events_stream",
            src.strip("/").replace("/", "_"),
        )
        os.makedirs(stream_dir, exist_ok=True)
        _ensure_symlink(src, os.path.join(stream_dir, "events.parquet"))

    raw = spark.readStream.schema(_events_schema(spark, src)).parquet(stream_dir)
    return normalize_event_ts(raw)


def serve_hourly_rollup(
    raw: DataFrame, preagg: DataFrame, boundary
) -> DataFrame:
    """Continuous-aggregate read path (the 'hypertable rollup' serving
    pattern): CLOSED hours come from the materialized pre-aggregate
    table, the OPEN tail aggregates from raw events on the fly, and the
    union is the complete, always-fresh hourly series. At 100 TB the
    pre-aggregate is maintained incrementally (the streaming hourly
    job); only the tail — bounded by the refresh interval — ever
    rescans raw data. ``boundary`` must be an hour boundary; rows at or
    after it come from raw so an in-progress hour is never double
    counted."""
    closed = preagg.filter(F.col("window_start") < F.lit(boundary))
    tail = hourly_counts(raw.filter(F.col("ts") >= F.lit(boundary)))
    return closed.unionByName(tail)


def read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Structured Streaming file source over any single-file testdata
    table (same symlink-into-a-directory trick as read_events_stream;
    schema sniffed from the parquet footer with a metadata-only batch
    read). Use read_events_stream for events — it also performs the
    nanos→micros timestamp conversion."""
    import os
    import tempfile

    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    if os.path.isdir(src):
        # directory-of-part-files layout: stream it directly (the
        # symlinked-directory form yields zero rows — see
        # read_events_stream)
        stream_dir = src
    else:
        stream_dir = os.path.join(
            tempfile.gettempdir(), f"spark_{table}_stream",
            src.strip("/").replace("/", "_"),
        )
        os.makedirs(stream_dir, exist_ok=True)
        _ensure_symlink(src, os.path.join(stream_dir, f"{table}.parquet"))
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(stream_dir)


def streaming_hourly_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """The hourly aggregation under a watermark: late events beyond
    ``watermark`` are dropped, state is bounded, results are append-able."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("value_cents") / 100.0).alias("value_sum"),
        )
    )


def multi_batch_events_dir(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> str:
    """Materialize the events table as an ``n_batches``-FILE streaming
    source directory: file k holds event_id % n_batches == k, with
    strictly increasing mtimes so the file source (latestFirst=false,
    maxFilesPerTrigger=1) replays them as deterministic micro-batches
    in k order. Because every file spans the FULL time range, each
    later batch delivers rows older than the earlier batches' maximum
    event time — real late data, which is what lets the watermark row
    below exercise actual late-row dropping (a single-batch stream can
    never be late against itself, and with only TWO batches nothing
    drops either: Spark merges a late row into still-live state, and
    state for a window is only evicted at the end of the first batch
    whose inherited watermark passes the window end — so the earliest
    droppable row is in batch 3, empirically pinned in
    tests/test_streaming_semantics.py). Idempotent per (sf, n)."""
    import os
    import tempfile
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    # cache key includes the SOURCE file's size+mtime: the _ready marker
    # persists across sessions under /tmp, and a regenerated
    # events.parquet at the same path must invalidate the split (else
    # the stream replays stale batches while the DuckDB oracle reads
    # the fresh table — a silent mismatch). mtime at NANOSECOND
    # precision: a same-size regeneration within one second would
    # collide under int(st_mtime).
    st = os.stat(src)
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "spark_events_nbatch",
        f"{src.strip('/').replace('/', '_')}_n{n_batches}"
        f"_s{st.st_size}_m{st.st_mtime_ns}",
    )
    done = os.path.join(out_dir, "_ready")
    if not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        t = pq.read_table(src)
        ids = t.column("event_id").to_pylist()
        now = _time.time()
        for k in range(n_batches):
            mask = pa.array(
                [i is not None and i % n_batches == k for i in ids]
            )
            f = os.path.join(out_dir, f"b{k}.parquet")
            pq.write_table(t.filter(mask), f)
            os.utime(f, (now - 100 + 10 * k, now - 100 + 10 * k))
        open(done, "w").close()
    return out_dir


def late_data_hourly_counts(
    spark: SparkSession, sf_dir: str, delay: str = "30 minutes"
) -> DataFrame:
    """Hourly tumbling-window counts under a REAL watermark: the events
    replay as three micro-batches (:func:`multi_batch_events_dir`), so
    late rows are genuinely DROPPED — the core correctness rule of
    production streaming that the other streaming rows (one batch,
    effectively infinite watermark) cannot exhibit.

    The exact semantics, empirically pinned (see
    tests/test_streaming_semantics.py) and replayed by the DuckDB
    oracle: the watermark USED in batch k is max(event time through
    batch k-1) - delay; a window's state is evicted (and, in append
    mode, emitted) at the end of the first batch whose watermark
    passes its end; an input row whose window was already evicted —
    equivalently, window_end <= watermark used in batch k-1 — is
    dropped. With the 3-way id split: batch-3 rows drop iff their hour
    ends at or before max(batch-1 event time) - delay, and the final
    empty availableNow batch emits every surviving window whose end
    <= max(all event time) - delay."""
    import os

    from ydb_vector_search_demo_spark.sources.tables import normalize_event_ts

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stream_dir = multi_batch_events_dir(spark, sf_dir, n_batches=3)
    raw = (
        spark.readStream.schema(_events_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stream_dir)
    )
    ev = normalize_event_ts(raw)
    return (
        ev.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour_start"), "n")
    )


def purchase_click_pairs(
    clicks_raw: DataFrame,
    purchases_raw: DataFrame,
    window_minutes: int = 60,
    watermark: str = "3650 days",
) -> DataFrame:
    """The purchase↔click join plan over two events-shaped inputs
    (streaming or batch): purchases joined to the same user's clicks
    from the preceding ``window_minutes``, both sides watermarked.
    Extracted from :func:`purchase_click_join_stream` so the eviction
    law test can drive the IDENTICAL plan over a deterministic
    multi-batch replay."""
    clicks = (
        clicks_raw.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        purchases_raw.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts <= p_ts AND "
            f"c_ts >= p_ts - INTERVAL {int(window_minutes)} MINUTES"
        ),
        "inner",
    )


def purchase_click_join_stream(
    spark: SparkSession,
    sf_dir: str,
    window_minutes: int = 60,
    watermark: str = "3650 days",
) -> DataFrame:
    """STREAM-STREAM inner join — the remaining Structured Streaming
    join surface next to the windowed/session/stateful aggs: purchases
    joined to the same user's clicks from the preceding
    ``window_minutes``, both sides watermarked (the watermark bounds
    each side's join STATE: a buffered click is evicted once no
    non-late purchase can reach back to it — c_ts + window <
    watermark — so state is O(events inside the watermark horizon),
    never the whole stream; the claim is not a docstring artifact but
    a pinned law, tests/test_streaming_semantics.py::
    test_stream_join_state_eviction_law: a finite-watermark 3-batch
    replay where click state rows are observably REMOVED, a
    reachable-but-late purchase provably yields NO pair while the
    batch self-join yields it, and fresh pairs still emit after the
    eviction). Time-range condition + equi-key is exactly the shape
    Spark requires to prune state on both sides.

    With the availableNow single-batch replay the oracle is the plain
    batch self-join (nothing is ever late to a single batch), so the
    row is fully DuckDB-checked; the default watermark is therefore
    the equality-mode horizon, and a production caller passes the real
    lateness bound instead."""
    return purchase_click_pairs(
        read_events_stream(spark, sf_dir),
        read_events_stream(spark, sf_dir),
        window_minutes=window_minutes,
        watermark=watermark,
    )


def dedup_events_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "3650 days",
    key_col: str = "event_id",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state —
    ``dropDuplicatesWithinWatermark``: unlike plain ``dropDuplicates``
    (whose key state grows forever — the streaming_dedup_events row),
    a key's dedup state is EVICTED once the watermark passes its event
    time, so state is O(keys inside the horizon) — the only dedup a
    100 TB stream can run. The trade is semantic, not just spatial: a
    duplicate arriving after its key's state was evicted is emitted
    AGAIN (at-least-once dedup within the horizon) — pinned in
    tests/test_streaming_semantics.py::
    test_dedup_within_watermark_eviction_law with a 3-batch replay
    where the in-horizon duplicate drops and the post-eviction
    duplicate re-emits. With the availableNow single-batch replay and
    the equality-mode horizon nothing is ever evicted mid-run, so the
    row is fully DuckDB-checked against batch DISTINCT (the
    streaming_hourly_counts convention)."""
    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    return (
        s1.unionByName(s2)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key_col])
    )


def enrich_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension join — the one Structured Streaming
    join mode the stream-stream row does not cover: facts stream in,
    the dimension is a plain batch table re-resolved and BROADCAST
    into every micro-batch's join (the production enrichment shape —
    no watermark required, no join state kept, because the static
    side is wholly available each trigger). The events replay as
    three deterministic micro-batches (:func:`multi_batch_events_dir`),
    so the enrichment provably runs incrementally; the downstream
    per-(segment, type) aggregation merges state across batches and
    is read in complete mode. At 100 TB the stream side is Kafka and
    the dim is the warehouse customer table: per-trigger cost is
    |batch| probe rows against a broadcast map, state is bounded by
    |segments|×|types|."""
    import os

    from ydb_vector_search_demo_spark.sources.tables import (
        load_table,
        normalize_event_ts,
    )

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stream_dir = multi_batch_events_dir(spark, sf_dir, n_batches=3)
    raw = (
        spark.readStream.schema(_events_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stream_dir)
    )
    ev = normalize_event_ts(raw)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
            "value_cents"
        ),
    )


def cusum_monitor_stream(
    spark: SparkSession, sf_dir: str, event_type: str = "purchase"
) -> dict:
    """Streaming DRIFT MONITOR: per micro-batch, recompute the
    two-sided CUSUM statistic (operators.timeseries.cusum_drift) over
    the hourly rate grain accumulated so far — the production shape
    of rate monitoring (the aggregation runs INCREMENTALLY in the
    stream's state store; the drift statistic, which needs the whole
    ordered grain, reruns per trigger inside ``foreachBatch`` over
    the complete-mode output — grain rows, never raw events). The
    events replay as three deterministic micro-batches
    (:func:`multi_batch_events_dir`); because the hourly counts grow
    monotonically across batches, the FINAL trigger's CUSUM equals
    the batch CUSUM over the full table — the streamed-in == batch
    law the DuckDB oracle replays (the stream_scd2_ingest precedent).

    Returns ``{"batches": [(batch_id, n_grain_rows, n_flags)],
    "final": [Row...]}`` — the per-trigger monitor readouts plus the
    final trigger's full CUSUM rows. The per-trigger collect() is
    bounded by the hour grain (~720 rows at any data scale)."""
    import os

    from ydb_vector_search_demo_spark.operators.timeseries import (
        cusum_drift,
    )
    from ydb_vector_search_demo_spark.sources.tables import (
        normalize_event_ts,
    )

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stream_dir = multi_batch_events_dir(spark, sf_dir, n_batches=3)
    raw = (
        spark.readStream.schema(_events_schema(spark, src))
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stream_dir)
    )
    ev = normalize_event_ts(raw).filter(F.col("event_type") == event_type)
    grain = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    state: dict = {"batches": [], "final": None}

    def on_batch(bdf: DataFrame, bid: int) -> None:
        rows = (
            cusum_drift(bdf.select("h", "x"), "h", "x")
            .orderBy("h")
            .collect()
        )
        flags = sum(
            1
            for r in rows
            if r["s_up"] > 4 * r["t"] or r["s_dn"] > 4 * r["t"]
        )
        state["batches"].append((bid, len(rows), flags))
        state["final"] = rows

    # the hourly-grain state is replay-bounded; size its partitioning
    # from the source, not the session core count (the foreachBatch
    # cusum jobs plan under the same scope — same tiny grain)
    with stream_shuffle_scope(spark, sf_dir):
        q = (
            grain.writeStream.foreachBatch(on_batch)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return state
