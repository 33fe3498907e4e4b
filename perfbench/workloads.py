"""The workloads. Each drives the program's public functions from one
process and checks every output against the oracles in ``oracle.py``.

The benchmark calls program functions through their modules
(``ann.ivf_append(...)``), never through names imported into this file, so
that ``tracing.Instrumentation`` can wrap them in the traced phase.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import common
import gen
import oracle
from tracing import NullTracer

SETUP_REPS = 3


@dataclass
class Phase:
    """What one measured phase observed. ``latencies`` are the seconds of
    the workload's primary operation; ``rate`` is its throughput."""

    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    latencies: list = field(default_factory=list)
    rate: float = 0.0
    quality: list = field(default_factory=list)
    top1: list = field(default_factory=list)
    counts: list = field(default_factory=list)  # (jobs, stages, tasks, cpu_s) per primary op
    extra: dict = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def attempt(self) -> None:
        with self.lock:
            self.attempted += 1

    def fail(self, what: str) -> None:
        with self.lock:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"


class Workload:
    name = ""
    primary = "op"  # span name of the primary operation

    def __init__(self, spark, seed: int) -> None:
        from ydb_vector_search_demo_spark.operators import ann, dedup, knn
        from ydb_vector_search_demo_spark.pipeline import rag
        from ydb_vector_search_demo_spark.sources import tables

        self.spark, self.seed = spark, seed
        self.ann, self.dedup, self.knn, self.rag, self.tables = ann, dedup, knn, rag, tables
        self.live = os.path.join(common.WORK, "live", self.name)
        self.setup_parts: list[dict] = []
        self.checks = Phase()  # warm-up operations and the final check

    def run_op(self, phase: Phase, tracer, counter, kind: str, rid: str, body):
        """Time ``body()`` as one operation; with a counter, also record its
        Spark jobs/stages/tasks and the calling thread's CPU time."""
        group = f"perfbench-{rid}"
        if counter is not None:
            counter.begin(group)
        c0, t0 = time.thread_time(), time.perf_counter()
        with tracer.span(kind, rid=rid):
            out = body()
        dt = time.perf_counter() - t0
        if counter is not None:
            jobs, stages, tasks = counter.end(group)
            with phase.lock:
                phase.counts.append((jobs, stages, tasks, time.thread_time() - c0))
        return out, dt

    def collect(self, df, tracer) -> list[tuple]:
        with tracer.span("spark.collect"):
            return [tuple(r) for r in df.collect()]

    def timed_setup(self, tracer=NullTracer()) -> float:
        t0 = time.perf_counter()
        with tracer.span("setup", rid=f"setup:{len(self.setup_parts)}"):
            parts = self.setup(tracer)
        parts["total_s"] = time.perf_counter() - t0
        self.setup_parts.append(parts)
        return parts["total_s"]

    def setup(self, tracer) -> dict:
        raise NotImplementedError

    def measure(self, seconds: float, tracer, counter) -> Phase:
        raise NotImplementedError

    def final_check(self) -> None:
        """Checks made once after the measured phases, into ``self.checks``."""

    def e2e(self, phase: Phase) -> dict:
        """End-to-end values of the generic metrics, plus named aliases."""
        raise NotImplementedError

    def layer_counts(self, phase: Phase) -> dict:
        return {}

    def close(self) -> None:
        self.ann.clear_index_cache()
        self.dedup.release_persisted()


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def _cell_sizes(store: str) -> dict[int, int]:
    """Rows per IVF cell, read off the partitioned store's parquet footers."""
    import pyarrow.parquet as pq

    sizes: dict[int, int] = {}
    for d in os.listdir(store):
        if not d.startswith("centroid_id="):
            continue
        cell = int(d.split("=", 1)[1])
        path = os.path.join(store, d)
        sizes[cell] = sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path) if f.endswith(".parquet")
        )
    return sizes


def _store_files(store: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _dirs, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def _probed_cells(centroids: np.ndarray, q: np.ndarray, nprobe: int) -> np.ndarray:
    """The nprobe nearest centroids by cosine distance (the probe rule)."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    d = 1.0 - (c @ q) / np.linalg.norm(q)
    return np.argsort(d, kind="stable")[:nprobe]


# ====================================================================== rag_serve

class RagServe(Workload):
    """Closed loop of 4 clients, each sending ``search_with_summary`` and
    waiting for the collected reply."""

    name = "rag_serve"
    primary = "request"
    clients = 4
    warm_rounds = 3  # concurrent warm-up requests per client and set-up

    def setup(self, tracer) -> dict:
        t0 = time.perf_counter()
        self.dir = gen.ensure_inputs(common.WORK, self.name, self.seed)
        t1 = time.perf_counter()
        rag = self.rag
        self.queries = gen.read_json(os.path.join(self.dir, "queries.json"))
        self.oracle = oracle.RagOracle(
            np.load(os.path.join(self.dir, "vectors.npy")),
            gen.read_json(os.path.join(self.dir, "texts.json")),
            rag.PROMPT_TEMPLATE, rag.CONTEXT_SEPARATOR, rag.CONTEXT_TOP_N, rag.DEFAULT_K,
        )
        t2 = time.perf_counter()
        self._clients(self.checks, tracer, None, lambda n: n < self.warm_rounds, warm=True)
        return {"inputs_s": t1 - t0, "oracle_s": t2 - t1, "warmup_s": time.perf_counter() - t2}

    def _request(self, query: str, tracer) -> list[tuple]:
        rag = self.rag
        df = rag.search_with_summary(self.spark, self.dir, query, embed_fn=rag.embed_query_stub)
        return self.collect(df, tracer)

    def _clients(self, ph: Phase, tracer, counter, more, warm: bool = False) -> float:
        """Run the closed loop: each client sends its next query while
        ``more(requests sent so far)`` holds. Warm-up queries come from the
        end of the stream, measured ones from its start. Returns the summed
        per-client rates of correct replies: each client counts its replies
        over the time until its own last reply, so the wait for the other
        clients' last replies after the deadline adds no idle time."""
        t0 = time.perf_counter()
        rates = [0.0] * self.clients

        def client(c: int) -> None:
            n = ok_replies = 0
            while more(n):
                i = (c + n * self.clients) % len(self.queries)
                q = self.queries[-1 - i] if warm else self.queries[i]
                rid = f"request:{c}:{n}"
                n += 1
                ph.attempt()
                try:
                    rows, dt = self.run_op(ph, tracer, counter, "request", rid,
                                           lambda: self._request(q, tracer))
                except Exception as e:  # a failed request is recorded, the client goes on
                    ph.fail(_err(e))
                    ph.quality.append(0.0)
                    continue
                problems, ok = self.oracle.check(q, rows)
                if problems:
                    ph.fail(f"{q!r}: {problems}")
                else:
                    ph.latencies.append(dt)
                    ok_replies += 1
                ph.quality.append(ok)
            rates[c] = ok_replies / (time.perf_counter() - t0)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sum(rates)

    def measure(self, seconds, tracer, counter) -> Phase:
        ph = Phase()
        deadline = time.perf_counter() + seconds
        ph.rate = self._clients(ph, tracer, counter, lambda n: time.perf_counter() < deadline)
        ph.top1 = ph.quality
        return ph

    def e2e(self, ph: Phase) -> dict:
        lat_ms = [x * 1000 for x in ph.latencies]
        return {
            "throughput_per_s": ph.rate,
            "latency_p50_ms": common.median(lat_ms),
            "quality": _mean(ph.quality),
            "top1": _mean(ph.top1),
            "aliases": {
                "search_qps": ph.rate,
                "search_p50_ms": common.median(lat_ms),
                "search_p90_ms": common.percentile(lat_ms, 90),
                "search_p95_ms": common.percentile(lat_ms, 95),
                "requests": len(lat_ms),
            },
        }


# =================================================================== ingest_mixed

class IngestMixed(Workload):
    """One client alternating ingest cycles of new docs (embed -> near-dup
    check -> append + ivf_append -> read-your-writes probe) with bursts of
    single-query ``ivf_search_parquet`` reads on the growing store. Every
    set-up and every measured phase starts from the same pristine snapshot.

    Reads follow each cycle instead of running beside it in other threads:
    with two concurrent readers the read median spread 18% between runs
    (quartile distance / median over ten seeds on a 4-CPU host), as each
    read landed on a different mix of writer stages."""

    name = "ingest_mixed"
    primary = "read"
    cells = 32
    read_k = 5
    nprobe = 2
    reads_per_cycle = 8

    def setup(self, tracer) -> dict:
        t0 = time.perf_counter()
        self.dir = gen.ensure_inputs(common.WORK, self.name, self.seed)
        self.stream = gen.read_json(os.path.join(self.dir, "stream.json"))
        self.queries = gen.read_json(os.path.join(self.dir, "queries.json"))
        if not hasattr(self, "embedder"):
            self.embedder = oracle.StubEmbedder()
            self.store_vectors = [self._stored(t) for t in gen.ingest_store_texts()]
        t1 = time.perf_counter()
        self.snap = self._snapshot()
        t2 = time.perf_counter()
        self._restore()
        warm = self.stream["warm"]
        first = self.stream["warm_first_id"]
        self.checks.attempt()
        try:
            self._cycle(self.checks, tracer, -1, list(range(first, first + len(warm))), warm, {})
        except Exception as e:  # recorded as a failed operation of the run
            self.checks.fail(f"warm-up cycle: {_err(e)}")
        self._read(self.checks, tracer, "warm", self.queries[-1], None)
        return {"inputs_s": t1 - t0, "snapshot_s": t2 - t1, "warmup_s": time.perf_counter() - t2}

    def _snapshot(self) -> str:
        """The embedded, IVF-indexed pristine store. It is the same for every
        seed, so it is built once and kept beside its generated documents."""
        ann, rag = self.ann, self.rag
        from pyspark.sql import functions as F

        store = gen.ensure_inputs(common.WORK, "ingest_store", gen.ING_STORE_SEED)
        snap = os.path.join(store, "snapshot")
        if os.path.isfile(os.path.join(snap, "centroids.json")):
            return snap
        shutil.rmtree(snap, ignore_errors=True)
        docs = self.tables.load_table(self.spark, store, "documents")
        embedded = docs.select(
            F.col("doc_id").alias("vec_id"), rag.embed_texts_udf()(F.col("text")).alias("embedding")
        )
        index = ann.build_ivf_index(embedded, k_clusters=self.cells, seed=gen.ING_STORE_SEED)
        ann.write_ivf_partitioned(index, os.path.join(snap, "ivf"))
        index.assigned.unpersist()
        shutil.copytree(os.path.join(store, "documents.parquet"), os.path.join(snap, "documents.parquet"))
        with open(os.path.join(snap, "centroids.json"), "w") as f:
            json.dump(index.centroids, f)
        return snap

    def _restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snap, self.live)
        with open(os.path.join(self.live, "centroids.json")) as f:
            self.centroids = json.load(f)
        self.ivf = os.path.join(self.live, "ivf")
        self.docs = os.path.join(self.live, "documents.parquet")
        self.written: dict[int, np.ndarray] = {}
        self.store_rows = gen.ING_STORE

    def _stored(self, text: str) -> np.ndarray:
        """The oracle's embedding of a doc as the store holds it (float32)."""
        return self.embedder.embed(text).astype(np.float32).astype(np.float64)

    def _vector_of(self, i: int):
        return self.store_vectors[i] if 0 <= i < gen.ING_STORE else self.written.get(i)

    def _cycle(self, ph: Phase, tracer, n: int, ids: list[int], texts: list[str],
               injected: dict[int, int]) -> dict:
        """One ingest cycle; returns its counters."""
        from pyspark.sql import functions as F

        spark, ann, dedup, rag = self.spark, self.ann, self.dedup, self.rag
        new_df = spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")
        with tracer.span("rag.embed_texts"):
            emb = self.collect(new_df.select(
                F.col("doc_id").alias("vec_id"), rag.embed_texts_udf()(F.col("text")).alias("embedding")
            ), tracer)
        vec = {i: v for i, v in emb}
        expected = {i: self._stored(t) for i, t in zip(ids, texts)}
        bad = [i for i in ids if i not in vec or not np.array_equal(np.asarray(vec[i], np.float64), expected[i])]
        if bad:
            ph.fail(f"cycle {n}: {len(bad)} embeddings differ from the stub oracle")
        with tracer.span("dedup.pairs"):
            existing = self.tables.load_table(spark, self.live, "documents")
            pairs = self.collect(dedup.minhash_incremental_pairs(new_df, existing).select("a", "b"), tracer)
            dedup.release_persisted()
        problems, detected, false_new = oracle.check_dedup_pairs(
            pairs, set(ids), set(range(gen.ING_STORE)) | set(self.written), injected)
        if problems:
            ph.fail(f"cycle {n}: {problems}")
        flagged = {a for a, _ in pairs}
        kept = [i for i in ids if i not in flagged and i in vec]
        signed = self.store_rows + len(ids)
        self.written.update((i, expected[i]) for i in kept)
        with tracer.span("store.append_docs"):
            new_df.filter(F.col("doc_id").isin(kept)).write.mode("append").parquet(self.docs)
        kept_df = spark.createDataFrame([(i, vec[i]) for i in kept], "vec_id long, embedding array<float>")
        ann.ivf_append(self.centroids, kept_df, self.ivf)
        self.store_rows += len(kept)
        with tracer.span("ann.probe_writes"):
            qdf = spark.createDataFrame([(i, vec[i]) for i in kept], "query_id long, query_vec array<float>")
            hits = self.collect(ann.ivf_batch_search_parquet(
                spark, self.ivf, self.centroids, qdf, k=1, nprobe=self.nprobe
            ).select("query_id", "vec_id"), tracer)
        top = dict(hits)
        visible = sum(1 for i in kept if top.get(i) == i)
        return {"offered": len(ids), "kept": len(kept), "injected": len(injected),
                "detected": detected, "false_new": false_new, "probes": len(kept),
                "visible": visible, "signed": signed}

    def _read(self, ph: Phase, tracer, rid: str, query: str, counter):
        def body():
            v = self.rag.embed_query_stub(query)
            df = self.ann.ivf_search_parquet(self.spark, self.ivf, self.centroids, v,
                                             k=self.read_k, nprobe=self.nprobe)
            return self.collect(df, tracer)

        ph.attempt()
        try:
            rows, dt = self.run_op(ph, tracer, counter, "read", rid, body)
        except Exception as e:  # recorded; the reader goes on
            ph.fail(_err(e))
            return None
        problems = oracle.check_read(rows, self._vector_of, self.embedder.embed(query), self.read_k)
        if problems:
            ph.fail(f"read {query!r}: {problems}")
            return None
        return dt

    def measure(self, seconds, tracer, counter) -> Phase:
        ph = Phase()
        cycles: list[dict] = []
        cycle_s: list[float] = []
        self._restore()
        deadline = time.perf_counter() + seconds
        n = 0
        while n < len(self.stream["cycles"]) and (n == 0 or time.perf_counter() < deadline):
            c = self.stream["cycles"][n]
            ids = list(range(c["first_id"], c["first_id"] + len(c["texts"])))
            injected = {int(k): v for k, v in c["dups"].items()}
            ph.attempt()
            t0 = time.perf_counter()
            try:
                with tracer.span("cycle", rid=f"cycle:{n}"):
                    stats = self._cycle(ph, tracer, n, ids, c["texts"], injected)
            except Exception as e:  # recorded; ingest stops
                ph.fail(f"cycle {n}: {_err(e)}")
                break
            cycle_s.append(time.perf_counter() - t0)
            stats["files"], stats["bytes"] = _store_files(self.ivf)
            stats["rows"] = self.store_rows
            cycles.append(stats)
            for j in range(self.reads_per_cycle):
                q = self.queries[(n * self.reads_per_cycle + j) % len(self.queries)]
                dt = self._read(ph, tracer, f"read:{n}:{j}", q, counter)
                if dt is not None:
                    ph.latencies.append(dt)
                    ph.extra.setdefault("read_queries", []).append(q)
            n += 1
        ph.extra["cycles"] = cycles
        ph.extra["cycle_s"] = cycle_s
        ph.rate = sum(c["offered"] for c in cycles) / sum(cycle_s) if cycle_s else 0.0
        injected = sum(c["injected"] for c in cycles)
        ph.quality = [sum(c["detected"] for c in cycles) / injected] if injected else []
        probes = sum(c["probes"] for c in cycles)
        ph.top1 = [sum(c["visible"] for c in cycles) / probes] if probes else []
        return ph

    def final_check(self) -> None:
        """The store holds exactly the pristine docs plus every kept doc."""
        want = gen.ING_STORE + len(self.written)
        self.checks.attempt()
        docs = self.spark.read.parquet(self.docs).count()
        vecs = self.spark.read.parquet(self.ivf).count()
        if docs != want or vecs != want:
            self.checks.fail(f"store rows docs={docs} vectors={vecs}, expected {want}")

    def e2e(self, ph: Phase) -> dict:
        lat_ms = [x * 1000 for x in ph.latencies]
        return {
            "throughput_per_s": ph.rate,
            "latency_p50_ms": common.median(lat_ms),
            "quality": _mean(ph.quality),
            "top1": _mean(ph.top1),
            "aliases": {
                "ingest_docs_per_s": ph.rate,
                "ingest_read_p50_ms": common.median(lat_ms),
                "ingest_read_p90_ms": common.percentile(lat_ms, 90),
                "reads": len(lat_ms),
                "cycles": len(ph.extra.get("cycles", [])),
                "cycle_s": ph.extra.get("cycle_s", []),
                "ingest_visible_at_1": _mean(ph.top1),
                "dedup_recall": _mean(ph.quality),
            },
        }

    def layer_counts(self, ph: Phase) -> dict:
        cycles = ph.extra.get("cycles", [])
        sizes = _cell_sizes(self.ivf)
        cents = np.array(self.centroids)
        rows = [sum(sizes.get(int(c), 0) for c in _probed_cells(cents, self.embedder.embed(q), self.nprobe))
                for q in ph.extra.get("read_queries", [])]
        last = cycles[-1] if cycles else {"files": 0, "bytes": 0, "rows": self.store_rows}
        return {
            "ann.cells_probed_per_query": float(self.nprobe),
            "ann.rows_scored_per_query": _mean(rows),
            "ann.rows_scored_per_result": _mean(rows) / self.read_k,
            "ann.store_files": float(last["files"]),
            "ann.store_bytes_per_user_byte": last["bytes"] / (last["rows"] * (8 + 4 * gen.DIM)),
            "dedup.rows_signed_per_new_doc": _mean([c["signed"] / c["offered"] for c in cycles]),
            "dedup.false_pairs_per_cycle": _mean([c["false_new"] for c in cycles]),
        }


WORKLOADS = {w.name: w for w in (RagServe, IngestMixed)}
